"""Driver-contract query registry: Spark DataFrame query + DuckDB oracle SQL.

One entry per implemented operator family from SURVEY.md §2, expressed over
the driver's testdata tables (events = the log-record stream analog;
documents/embeddings = the training-data-pipeline tables; TPC-H tables for
join/agg benchmarks).  Every aggregate/computed column is aliased identically
in the Spark plan and the oracle SQL (the driver hash-compares values after
sorting columns by name).

Conventions for oracle-exact determinism:
- double aggregates rounded (sums to 4 dp, ratios to 4 dp) — double addition
  order differs between engines;
- timestamps emitted as formatted UTC strings (Spark session TZ is UTC,
  DuckDB is UTC-naive);
- no LIMIT without a total tie-break order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_docs_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents, spread across cores: the test table is ONE parquet file
    -> one input split, which serializes interpreted-HOF work (shingling,
    token transforms) onto a single task.  A real corpus scan has many
    splits and needs no repartition — this is gate-only plumbing, same
    rationale as q_text_repetition."""
    return load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )


def _fmt_ts(col):
    return F.date_format(col, "yyyy-MM-dd HH:mm:ss")


def _run_stream_gate(spark, df, name: str, mode: str = "complete"):
    """Run a streaming frame to a memory sink for a gate and return the
    sink table: stop any query still holding the name (reruns in one
    session), availableNow trigger, checkpoint in a temp dir removed even
    when the query fails (the memory sink outlives the query; the
    checkpoint must not — one leaked state dir per invocation otherwise)."""
    import shutil
    import tempfile

    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    ckpt = tempfile.mkdtemp(prefix="ckpt_gate_")
    try:
        (
            df.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


SPARK_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def register(name: str, sql: str | None = None):
    def deco(fn):
        SPARK_QUERIES[name] = fn
        if sql is not None:
            ORACLE_SQL[name] = sql
        return fn

    return deco


# ---------------------------------------------------------------------------
# Parse stage (S1/S9): JSON props extraction + field derivation
# ---------------------------------------------------------------------------
@register(
    "pipeline_parse",
    """
    SELECT event_id,
           event_type,
           CAST(json_extract_string(props, '$.k') AS INT) AS prop_k,
           CASE WHEN event_type = 'error' THEN 'logs.error'
                ELSE 'logs.' || event_type END AS sink
    FROM events
    """,
)
def q_pipeline_parse(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events")
    return ev.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
        F.when(F.col("event_type") == "error", F.lit("logs.error"))
        .otherwise(F.concat(F.lit("logs."), F.col("event_type")))
        .alias("sink"),
    )


# ---------------------------------------------------------------------------
# Enrich stage (E7): broadcast dimension chain + defaults (E1/E2 coalesce)
# ---------------------------------------------------------------------------
@register(
    "pipeline_enrich",
    """
    SELECT COALESCE(r.r_name, 'unknown') AS region,
           COALESCE(n.n_name, 'unknown') AS nation,
           COUNT(*) AS docs,
           ROUND(SUM(e.value), 4) AS value_sum
    FROM events e
    LEFT JOIN customer c ON e.user_id = c.c_custkey
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
    """,
)
def q_pipeline_enrich(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events")
    cust = load(spark, sf, "customer").select("c_custkey", "c_nationkey")
    nat = load(spark, sf, "nation").select("n_nationkey", "n_name", "n_regionkey")
    reg = load(spark, sf, "region")
    joined = (
        ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey, "left")
        .join(F.broadcast(nat), F.col("c_nationkey") == nat.n_nationkey, "left")
        .join(F.broadcast(reg), F.col("n_regionkey") == reg.r_regionkey, "left")
    )
    return joined.groupBy(
        F.coalesce("r_name", F.lit("unknown")).alias("region"),
        F.coalesce("n_name", F.lit("unknown")).alias("nation"),
    ).agg(
        F.count(F.lit(1)).alias("docs"),
        F.round(F.sum("value"), 4).alias("value_sum"),
    )


# ---------------------------------------------------------------------------
# Route stage (E3/R3): data-stream route key + per-sink counts
# ---------------------------------------------------------------------------
@register(
    "pipeline_route_counts",
    """
    SELECT CASE WHEN event_type = 'error' THEN 'logs.error'
                ELSE 'logs.' || event_type END AS sink,
           COUNT(*) AS docs,
           COUNT(DISTINCT user_id) AS users
    FROM events GROUP BY 1
    """,
)
def q_route_counts(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events")
    sink = F.when(F.col("event_type") == "error", F.lit("logs.error")).otherwise(
        F.concat(F.lit("logs."), F.col("event_type"))
    )
    return ev.groupBy(sink.alias("sink")).agg(
        F.count(F.lit(1)).alias("docs"),
        F.count_distinct("user_id").alias("users"),
    )


# ---------------------------------------------------------------------------
# Cardinality routing (R1): distinct-count decisions, threshold buckets
# ---------------------------------------------------------------------------
@register(
    "pipeline_route_cardinality",
    """
    SELECT user_id,
           CASE WHEN card <= 2 THEN '0_2'
                WHEN card <= 4 THEN '2_4'
                ELSE '4_inf' END AS route
    FROM (SELECT user_id, COUNT(DISTINCT event_type) AS card
          FROM events GROUP BY user_id)
    """,
)
def q_route_cardinality(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.route import cardinality_decisions

    ev = load(spark, sf, "events")
    dec = cardinality_decisions(ev, ["user_id"], "event_type", [2, 4], exact=True)
    return dec.select("user_id", "route")


# ---------------------------------------------------------------------------
# Decision LAG (dynamicroutingconnector router.go:172-192,334-361): the
# reference's TTL decision cache means batch N is routed by cardinality
# observed up to batch N-1; keys never seen before take the default route.
# Two deterministic "batches" (event_id parity): decisions from batch 0
# route batch 1.
# ---------------------------------------------------------------------------
@register(
    "route_cardinality_lagged",
    """
    WITH dec AS (
        SELECT user_id,
               CASE WHEN card <= 2 THEN '0_2'
                    WHEN card <= 4 THEN '2_4'
                    ELSE '4_inf' END AS route
        FROM (SELECT user_id, COUNT(DISTINCT event_type) AS card
              FROM events WHERE event_id % 2 = 0 GROUP BY user_id)
    )
    SELECT e.user_id, coalesce(d.route, 'default') AS route,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events e LEFT JOIN dec d USING (user_id)
    WHERE e.event_id % 2 = 1
    GROUP BY 1, 2
    """,
)
def q_route_cardinality_lagged(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.route import cardinality_decisions, with_cardinality_route

    ev = load(spark, sf, "events")
    prior = ev.filter(F.col("event_id") % 2 == 0)
    current = ev.filter(F.col("event_id") % 2 == 1)
    dec = cardinality_decisions(
        prior, ["user_id"], "event_type", [2, 4], exact=True
    )
    routed = with_cardinality_route(
        current, ["user_id"], "event_type", [2, 4], decisions=dec
    )
    return routed.groupBy("user_id", "route").agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# Interval aggregation (A1): tumbling 1m and 60m windows
# ---------------------------------------------------------------------------
@register(
    "agg_interval_1m",
    """
    SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS docs,
           ROUND(SUM(value), 4) AS value_sum
    FROM events GROUP BY 1, 2
    """,
)
def q_agg_1m(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events")
    return ev.groupBy(
        _fmt_ts(F.date_trunc("minute", "ts")).alias("window_start"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("docs"),
        F.round(F.sum("value"), 4).alias("value_sum"),
    )


@register(
    "agg_interval_60m",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS docs,
           ROUND(SUM(value), 4) AS value_sum,
           ROUND(MIN(value), 4) AS value_min,
           ROUND(MAX(value), 4) AS value_max
    FROM events GROUP BY 1, 2
    """,
)
def q_agg_60m(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events")
    return ev.groupBy(
        _fmt_ts(F.date_trunc("hour", "ts")).alias("window_start"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("docs"),
        F.round(F.sum("value"), 4).alias("value_sum"),
        F.round(F.min("value"), 4).alias("value_min"),
        F.round(F.max("value"), 4).alias("value_max"),
    )


# ---------------------------------------------------------------------------
# Merge semantics (A3): cumulative replace-by-newest == arg_max
# ---------------------------------------------------------------------------
@register(
    "agg_cumulative_maxby",
    """
    SELECT user_id,
           ROUND(arg_max(value, ts), 4) AS latest_value,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS latest_ts
    FROM events GROUP BY user_id
    """,
)
def q_cumulative_maxby(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events")
    return ev.groupBy("user_id").agg(
        F.round(F.max_by("value", "ts"), 4).alias("latest_value"),
        _fmt_ts(F.max("ts")).alias("latest_ts"),
    )


# ---------------------------------------------------------------------------
# Histogram bucketing + vector-add (A4) in relational form
# ---------------------------------------------------------------------------
@register(
    "agg_histogram_buckets",
    """
    SELECT event_type,
           CASE WHEN value < 5 THEN 0 WHEN value < 10 THEN 1
                WHEN value < 20 THEN 2 WHEN value < 50 THEN 3 ELSE 4 END AS bucket,
           COUNT(*) AS bucket_count
    FROM events GROUP BY 1, 2
    """,
)
def q_histogram_buckets(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events")
    bucket = (
        F.when(F.col("value") < 5, 0)
        .when(F.col("value") < 10, 1)
        .when(F.col("value") < 20, 2)
        .when(F.col("value") < 50, 3)
        .otherwise(4)
    )
    return ev.groupBy("event_type", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("bucket_count")
    )


# ---------------------------------------------------------------------------
# Cardinality limits + overflow bucket (A7)
# ---------------------------------------------------------------------------
@register(
    "agg_overflow_limit",
    """
    WITH first_seen AS (
        SELECT event_type, user_id, MIN(ts) AS fs
        FROM events GROUP BY 1, 2
    ), ranked AS (
        SELECT event_type, user_id,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY fs, user_id) AS rk
        FROM first_seen
    )
    SELECT e.event_type,
           CASE WHEN r.rk <= 10 THEN CAST(e.user_id AS VARCHAR)
                ELSE '_overflow' END AS user_bucket,
           COUNT(*) AS docs
    FROM events e JOIN ranked r
      ON e.event_type = r.event_type AND e.user_id = r.user_id
    GROUP BY 1, 2
    """,
)
def q_overflow_limit(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load(spark, sf, "events")
    first_seen = ev.groupBy("event_type", "user_id").agg(F.min("ts").alias("fs"))
    w = Window.partitionBy("event_type").orderBy("fs", "user_id")
    ranked = first_seen.withColumn("rk", F.row_number().over(w))
    joined = ev.join(ranked.select("event_type", "user_id", "rk"), ["event_type", "user_id"])
    bucket = F.when(F.col("rk") <= 10, F.col("user_id").cast("string")).otherwise(F.lit("_overflow"))
    return joined.groupBy("event_type", bucket.alias("user_bucket")).agg(
        F.count(F.lit(1)).alias("docs")
    )


# ---------------------------------------------------------------------------
# APM metric synthesis (A11): service-summary-style windowed metricset
# ---------------------------------------------------------------------------
@register(
    "apm_service_summary",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS docs,
           COUNT(DISTINCT user_id) AS users,
           COUNT(*) FILTER (WHERE event_type = 'error') AS failure_count,
           COUNT(*) FILTER (WHERE event_type <> 'error') AS success_count,
           ROUND(SUM(value), 4) AS value_sum
    FROM events GROUP BY 1
    """,
)
def q_apm_service_summary(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events")
    return ev.groupBy(_fmt_ts(F.date_trunc("hour", "ts")).alias("window_start")).agg(
        F.count(F.lit(1)).alias("docs"),
        F.count_distinct("user_id").alias("users"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("failure_count"),
        F.sum(F.when(F.col("event_type") != "error", 1).otherwise(0)).alias("success_count"),
        F.round(F.sum("value"), 4).alias("value_sum"),
    )


# ---------------------------------------------------------------------------
# TPC-H q1/q3: classic scan-agg and broadcast-join benchmarks
# ---------------------------------------------------------------------------
@register(
    "tpch_q1",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 4) AS sum_qty,
           ROUND(SUM(l_extendedprice), 4) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY 1, 2
    """,
)
def q_tpch_q1(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "tpch_q3",
    """
    SELECT l.l_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY 1, 2
    """,
)
def q_tpch_q3(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem")
    orders = load(spark, sf, "orders")
    cust = load(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey).join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    )
    return joined.groupBy(
        "l_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate")
    ).agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))


# ---------------------------------------------------------------------------
# Training-data pipeline: text analysis over `documents`
# ---------------------------------------------------------------------------
@register(
    "text_token_count",
    """
    SELECT doc_id,
           len(string_split(text, ' ')) AS tokens_ws,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS tokens_bpe
    FROM documents
    """,
)
def q_token_count(spark: SparkSession, sf: str) -> DataFrame:
    from .functions.textstats import token_count_bpe, token_count_ws

    docs = load(spark, sf, "documents")
    return docs.select(
        "doc_id",
        token_count_ws(F.col("text")).alias("tokens_ws"),
        token_count_bpe(F.col("text")).alias("tokens_bpe"),
    )


@register(
    "text_quality",
    """
    WITH t AS (
        SELECT doc_id,
               length(text) AS n_chars,
               string_split(lower(text), ' ') AS toks
        FROM documents
    )
    SELECT doc_id,
           n_chars,
           len(toks) AS n_tokens,
           ROUND((n_chars - len(toks) + 1) / len(toks), 4) AS avg_token_len,
           ROUND(len(list_filter(toks, x -> x IN ('the','a','and','of','to'))) / len(toks), 4) AS stopword_ratio,
           ROUND(len(list_distinct(toks)) / len(toks), 4) AS uniq_token_ratio
    FROM t
    """,
)
def q_text_quality(spark: SparkSession, sf: str) -> DataFrame:
    from .functions.textstats import quality_features

    docs = load(spark, sf, "documents")
    feats = quality_features(F.col("text"))
    return docs.select("doc_id", *[c.alias(n) for n, c in feats.items()])


@register(
    "text_char_entropy",
    """
    WITH ex AS (
        SELECT doc_id, ch
        FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch
              FROM documents)
        WHERE ch <> ''
    ), counts AS (
        SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM ex GROUP BY 1, 2
    ), tot AS (
        SELECT doc_id, cnt,
               CAST(SUM(cnt) OVER (PARTITION BY doc_id) AS BIGINT) AS n
        FROM counts
    ), terms AS (
        SELECT doc_id, n, cnt,
               CAST(FLOOR(1000000 * LN(CAST(n AS DOUBLE) / cnt)) AS BIGINT)
                   AS lnr_micro
        FROM tot
    )
    SELECT doc_id,
           CAST(MAX(n) AS BIGINT) AS n_chars,
           CAST(SUM(cnt * lnr_micro) // MAX(n) AS BIGINT)
               AS entropy_micro_nats,
           ROUND(CAST(SUM(cnt * lnr_micro) // MAX(n) AS BIGINT)
                 / 1000000.0 / LN(2), 4) AS entropy_bits
    FROM terms GROUP BY doc_id
    """,
)
def q_text_char_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document character Shannon entropy
    (operators/entropy.py::char_entropy) — the byte-level junk detector
    (base64/hex sit high, template/padding runs sit low) beside the
    word-level quality features.  PSI-style micro-nat floor keeps the
    gate hashing pure BIGINTs; the bits/char double is derived from the
    integer."""
    from .operators.entropy import char_entropy

    docs = load_docs_spread(spark, sf)
    return char_entropy(docs, "doc_id", "text")


@register(
    "corpus_zipf_fit",
    """
    WITH toks AS (
        SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS term
        FROM documents
    ), freqs AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks WHERE term <> '' GROUP BY 1
    ), head AS (
        SELECT tf,
               CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, term ASC)
                    AS BIGINT) AS rank
        FROM freqs
        QUALIFY ROW_NUMBER() OVER (ORDER BY tf DESC, term ASC) <= 400
    ), pts AS (
        SELECT CAST(FLOOR(1000 * LN(CAST(rank AS DOUBLE))) AS BIGINT) AS x,
               CAST(FLOOR(1000 * LN(CAST(tf AS DOUBLE))) AS BIGINT) AS y
        FROM head
    ), mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_ranks,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM pts
    )
    SELECT n_ranks, sx, sy, sxy, sxx,
           CAST(n_ranks * sxy - sx * sy AS BIGINT) AS slope_num,
           CAST(n_ranks * sxx - sx * sx AS BIGINT) AS slope_den,
           ROUND((n_ranks * sxy - sx * sy)
                 / CAST(n_ranks * sxx - sx * sx AS DOUBLE), 6) AS slope,
           ROUND((sy / n_ranks
                  - (n_ranks * sxy - sx * sy)
                    / CAST(n_ranks * sxx - sx * sx AS DOUBLE)
                    * (sx / n_ranks)) / 1000.0, 4) AS intercept_ln
    FROM mom
    WHERE n_ranks >= 2 AND n_ranks * sxx - sx * sx > 0
    """,
)
def q_corpus_zipf_fit(spark: SparkSession, sf: str) -> DataFrame:
    """Zipf slope of the corpus vocabulary (operators/textmine.py::
    zipf_fit) over the top-400 ranks — the log-log rank-frequency OLS
    in exact milli-nat integer moments; natural text sits near -1,
    template spam bends the line.  The oracle replays the rank cut and
    all four moments integer-for-integer."""
    from .operators.textmine import zipf_fit

    docs = load_docs_spread(spark, sf)
    return zipf_fit(docs, "text", max_rank=400)


def _script_profile_oracle_sql() -> str:
    """Oracle for text_script_profile, generated from the SAME
    SCRIPT_RANGES table the operator uses (one source of truth for the
    unicode ranges; both engines' regex classes see identical
    literals)."""
    from .functions.textstats import SCRIPT_RANGES

    names = sorted(SCRIPT_RANGES)
    count_cols = ",\n               ".join(
        "CAST(length(regexp_replace(text, '[^{r}]', '', 'g')) AS BIGINT)"
        " AS n_{n}".format(r=SCRIPT_RANGES[n], n=n)
        for n in names
    )
    m = "GREATEST({})".format(", ".join(f"n_{n}" for n in names))
    chain = "\n                ".join(
        f"WHEN n_{n} = {m} THEN '{n}'" for n in names
    )
    return f"""
    WITH c AS (
        SELECT doc_id,
               {count_cols}
        FROM documents
    )
    SELECT doc_id, {', '.join('n_' + n for n in names)},
           CASE WHEN {m} = 0 THEN 'none'
                {chain}
                ELSE 'none'
           END AS dominant_script
    FROM c
    """


@register("text_script_profile", _script_profile_oracle_sql())
def q_text_script_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Writing-system profile (functions/textstats.py::script_counts /
    ::dominant_script): exact per-script character counts + the
    alphabetical-tie dominant script — catches mixed-script spam,
    mojibake, and wrong-charset decodes that stopword-vote lang_id
    never sees.  Oracle SQL is GENERATED from the same SCRIPT_RANGES
    literals the operator compiles."""
    from .functions.textstats import dominant_script, script_counts

    docs = load(spark, sf, "documents")
    cc = script_counts(F.col("text"))
    return docs.select(
        "doc_id",
        *[c.alias(n) for n, c in cc.items()],
        dominant_script(F.col("text")).alias("dominant_script"),
    )


@register(
    "corpus_heaps_fit",
    """
    WITH toks AS (
        SELECT source AS g,
               unnest(regexp_split_to_array(lower(text), '\\s+')) AS term
        FROM documents
    ), per_term AS (
        SELECT g, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks WHERE term <> '' GROUP BY 1, 2
    ), per_group AS (
        SELECT g, CAST(SUM(tf) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_vocab
        FROM per_term GROUP BY 1
    ), pts AS (
        SELECT CAST(FLOOR(1000 * LN(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS x,
               CAST(FLOOR(1000 * LN(CAST(n_vocab AS DOUBLE))) AS BIGINT) AS y
        FROM per_group WHERE n_tokens > 0
    ), mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM pts
    )
    SELECT n_groups, sx, sy, sxy, sxx,
           CAST(n_groups * sxy - sx * sy AS BIGINT) AS slope_num,
           CAST(n_groups * sxx - sx * sx AS BIGINT) AS slope_den,
           ROUND((n_groups * sxy - sx * sy)
                 / CAST(n_groups * sxx - sx * sx AS DOUBLE), 6) AS beta,
           ROUND((sy / n_groups
                  - (n_groups * sxy - sx * sy)
                    / CAST(n_groups * sxx - sx * sx AS DOUBLE)
                    * (sx / n_groups)) / 1000.0, 4) AS intercept_ln
    FROM mom
    WHERE n_groups >= 2 AND n_groups * sxx - sx * sx > 0
    """,
)
def q_corpus_heaps_fit(spark: SparkSession, sf: str) -> DataFrame:
    """Heaps'-law vocabulary-growth exponent (operators/textmine.py::
    heaps_fit) across document sources — beta near 0.4-0.6 is natural
    text, near 0 is a template farm; same milli-nat exact OLS as the
    Zipf gate, oracle replays every moment."""
    from .operators.textmine import heaps_fit

    docs = load_docs_spread(spark, sf)
    return heaps_fit(docs, "source", "text")


@register(
    "text_lang_id",
    """
    WITH t AS (
        SELECT doc_id, text, string_split(lower(text), ' ') AS toks FROM documents
    ), c AS (
        SELECT doc_id, text,
               len(list_filter(toks, x -> x IN ('the','a','and','of','to'))) AS c_en,
               len(list_filter(toks, x -> x IN ('der','die','und','das','ein'))) AS c_de,
               len(list_filter(toks, x -> x IN ('le','la','et','les','un'))) AS c_fr,
               len(list_filter(toks, x -> x IN ('el','los','y','las','una'))) AS c_es
        FROM t
    )
    SELECT doc_id,
           CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
                WHEN greatest(c_en,c_de,c_fr,c_es) = 0 THEN 'und'
                WHEN c_en = greatest(c_en,c_de,c_fr,c_es) THEN 'en'
                WHEN c_de = greatest(c_en,c_de,c_fr,c_es) THEN 'de'
                WHEN c_fr = greatest(c_en,c_de,c_fr,c_es) THEN 'fr'
                ELSE 'es' END AS lang_pred
    FROM c
    """,
)
def q_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    from .functions.textstats import lang_id

    docs = load(spark, sf, "documents")
    return docs.select("doc_id", lang_id(F.col("text")).alias("lang_pred"))


@register(
    "text_fingerprint",
    """
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
)
def q_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    from .functions.textstats import doc_fingerprint

    docs = load(spark, sf, "documents")
    return docs.select("doc_id", doc_fingerprint(F.col("text")).alias("fingerprint"))


_WINNOW_FPS_CTE = r"""
    toks AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
        FROM documents
    ), grams AS (
        SELECT doc_id,
               list_transform(generate_series(1, len(t) - 2),
                   i -> ('0x' || substr(md5(array_to_string(t[i:i+2], ' ')), 1, 15))::BIGINT) AS h
        FROM toks WHERE len(t) >= 3
    ), fps AS (
        SELECT doc_id,
               CASE WHEN len(h) < 4 THEN [list_min(h)]
                    ELSE list_sort(list_distinct(list_transform(
                           generate_series(1, len(h) - 3), j -> list_min(h[j:j+3]))))
               END AS fp
        FROM grams
    )
"""


@register(
    "winnow_fingerprint_stats",
    f"""
    WITH {_WINNOW_FPS_CTE}
    SELECT doc_id, len(fp) AS n_fps, list_min(fp) AS fp_min
    FROM fps
    """,
)
def q_winnow_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc winnowing fingerprint count + min selected hash (k=3 word
    grams, window w=4): exercises the whole selection expression forest
    for every document; fp_min pins the hash values, not just the sizes."""
    from .functions.textstats import winnow_fingerprints

    docs = load(spark, sf, "documents")
    fp = winnow_fingerprints(F.col("text"), k=3, w=4)
    return docs.select(
        "doc_id",
        F.size(fp).alias("n_fps"),
        F.array_min(fp).alias("fp_min"),
    ).filter(F.col("n_fps") > 0)


@register(
    "winnow_overlap_pairs",
    f"""
    WITH {_WINNOW_FPS_CTE},
    ex AS (SELECT doc_id, unnest(fp) AS f FROM fps)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
    FROM ex a JOIN ex b ON a.f = b.f AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
    """,
)
def q_winnow_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """MOSS-style copy detection: doc pairs sharing >=2 winnowing
    fingerprints.  The gate opts into exact=True full-universe semantics
    (the sf corpus has no pathological boilerplate fingerprint); the
    production scale path sets max_fp_df, same guard as ngram Jaccard."""
    from .operators.dedup import winnow_overlap_pairs

    docs = load(spark, sf, "documents")
    return winnow_overlap_pairs(docs, min_shared=2, exact=True)


@register(
    "frequent_items_events",
    """
    WITH c AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY 1),
         t AS (SELECT COUNT(*) AS n FROM events)
    SELECT user_id, cnt FROM c, t WHERE cnt * 120 > n
    """,
)
def q_frequent_items(spark: SparkSession, sf: str) -> DataFrame:
    """phi-heavy hitters (freq > n/120) of events.user_id through the
    bounded-memory Misra-Gries candidate pass + exact verify.  The gate
    proves the sketch's superset guarantee end-to-end: the output equals
    the plain exact aggregation even though candidates came from ~k
    counters per partition."""
    from .operators.partition import frequent_items_verified

    return frequent_items_verified(load(spark, sf, "events"), "user_id", k=120)


# ---------------------------------------------------------------------------
# Deduplication over `documents`
# ---------------------------------------------------------------------------
@register(
    "dedup_exact",
    """
    SELECT md5(substr(text, 1, 60)) AS fingerprint,
           MIN(doc_id) AS keeper_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    return docs.groupBy(F.md5(F.substring("text", 1, 60)).alias("fingerprint")).agg(
        F.min("doc_id").alias("keeper_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


@register(
    "dedup_ngram_jaccard",
    """
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ), sh AS (
        SELECT doc_id,
               list_distinct([array_to_string(t[i:i+2], chr(1)) for i in range(1, len(t) - 1)]) AS shingles
        FROM toks WHERE len(t) >= 3
    ), ex AS (
        SELECT doc_id, unnest(shingles) AS shingle FROM sh
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY 1
    ), common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(common / (sa.n + sb.n - common), 4) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE common / (sa.n + sb.n - common) >= 0.2
    """,
)
def q_dedup_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.dedup import ngram_jaccard_pairs

    docs = load_docs_spread(spark, sf)
    return ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.2, exact=True)


@register(
    "dedup_jaccard_prefix_join",
    """
    WITH ex AS (
        SELECT DISTINCT doc_id, tok
        FROM (SELECT doc_id,
                     unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
              FROM documents)
        WHERE tok <> ''
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY 1
    ), common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        FROM ex a JOIN ex b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(common AS BIGINT) AS common,
           CAST(sa.n AS BIGINT) AS n_a,
           CAST(sb.n AS BIGINT) AS n_b,
           ROUND(common / (sa.n + sb.n - common), 4) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE common * 19 >= 9 * (sa.n + sb.n)
    """,
)
def q_dedup_jaccard_prefix_join(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT word-set Jaccard >= 0.9 via the prefix-filter join — the
    no-false-negative complement to the probabilistic MinHash ladder.
    The oracle recomputes every pair brute-force (fine at sf0.01); the
    operator's prefix stage prunes ~3.2x below all-pairs here and far
    more on Zipf-distributed real corpora (only rarest-tail tokens
    enter the candidate join at t=0.9)."""
    from .operators.setjoin import jaccard_prefix_join

    docs = load_docs_spread(spark, sf)
    return jaccard_prefix_join(docs, "doc_id", "text", threshold=(9, 10))


@register(
    "dedup_weighted_jaccard",
    """
    WITH ex AS (
        SELECT doc_id, tok, COUNT(*) AS w
        FROM (SELECT doc_id,
                     unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
              FROM documents)
        WHERE tok <> ''
        GROUP BY 1, 2
    ), sizes AS (
        SELECT doc_id, SUM(w) AS n FROM ex GROUP BY 1
    ), common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               SUM(LEAST(a.w, b.w)) AS common
        FROM ex a JOIN ex b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(common AS BIGINT) AS common,
           CAST(sa.n AS BIGINT) AS n_a,
           CAST(sb.n AS BIGINT) AS n_b,
           ROUND(common / (sa.n + sb.n - common), 4) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE common * 19 >= 9 * (sa.n + sb.n)
    """,
)
def q_dedup_weighted_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT generalized (weighted) Jaccard >= 0.9 over token COUNT
    vectors — sum(min)/sum(max), the term-frequency-aware near-dup
    signal (a doc repeating one sentence 50x no longer matches its
    single-copy source).  Same prefix-filter join as
    `dedup_jaccard_prefix_join` run on the bag expansion (token x
    occurrence elements), under which weighted Jaccard IS set Jaccard
    and the lemma carries over exactly; oracle recomputes sum-of-mins
    brute-force on the token-join."""
    from .operators.setjoin import jaccard_prefix_join

    docs = load_docs_spread(spark, sf)
    return jaccard_prefix_join(docs, "doc_id", "text", threshold=(9, 10), weighted=True)


@register(
    "dedup_exact_incremental",
    """
    WITH seen AS (
        SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                   AS fingerprint
        FROM documents WHERE doc_id % 3 = 0
    ), batch AS (
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                   AS fingerprint
        FROM documents WHERE doc_id % 3 != 0
    ), fresh AS (
        SELECT b.* FROM batch b
        WHERE fingerprint NOT IN (SELECT fingerprint FROM seen)
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, fingerprint
    FROM fresh
    QUALIFY ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1
    """,
)
def q_dedup_exact_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental dedup: a new batch anti-joined against the historical
    fingerprint set, then first-id-wins within the batch — the growing-
    corpus production loop."""
    from .functions.textstats import doc_fingerprint
    from .operators.dedup import exact_dedup_incremental

    docs = load(spark, sf, "documents")
    seen = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .select(doc_fingerprint(F.col("text")).alias("fingerprint"))
        .distinct()
    )
    batch = docs.filter(F.col("doc_id") % 3 != 0)
    out = exact_dedup_incremental(batch, seen)
    return out.select("doc_id", "fingerprint")


@register("dedup_minhash_lsh")  # no SQL oracle: seeded xxhash64 is Spark-specific
def q_dedup_minhash(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.dedup import minhash_lsh_pairs

    docs = load_docs_spread(spark, sf)
    return minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.2)


@register("dedup_simhash")  # no SQL oracle: xxhash64 bit math is Spark-specific
def q_dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.dedup import simhash_near_pairs

    docs = load_docs_spread(spark, sf)
    return simhash_near_pairs(docs, "doc_id", "text", max_hamming=6)


# ---------------------------------------------------------------------------
# Similarity search over `embeddings`
# ---------------------------------------------------------------------------
@register(
    "embedding_cosine_scores",
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 4) AS cos_sim
    FROM embeddings e, q
    """,
)
def q_embedding_scores(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.similarity import brute_force_cosine

    emb = load(spark, sf, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return brute_force_cosine(emb, [float(x) for x in qvec])


@register(
    "embedding_centroid_assign",
    """
    WITH cents AS (
        SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cv
        FROM embeddings WHERE vec_id < 5
    ), scored AS (
        SELECT e.vec_id, c.centroid_id,
               ROUND(list_cosine_similarity(e.embedding::DOUBLE[], c.cv), 6) AS cos,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], c.cv), 6) DESC, c.centroid_id) AS rk
        FROM embeddings e CROSS JOIN cents c
    )
    SELECT vec_id, centroid_id, ROUND(cos, 4) AS cos_sim
    FROM scored WHERE rk = 1
    """,
)
def q_embedding_centroid(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.similarity import nearest_centroid

    emb = load(spark, sf, "embeddings")
    cents = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 5).collect()
    ]
    return nearest_centroid(emb, cents)


@register("embedding_lsh_topk")  # no SQL oracle: hyperplanes derive from xxhash64
def q_embedding_lsh(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.similarity import lsh_topk

    emb = load(spark, sf, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return lsh_topk(emb, [float(x) for x in qvec], k=10, n_planes=4)


# ---------------------------------------------------------------------------
# APM metric synthesis (A11) over the deterministic spans fixture
# (rows-only checks: the spans table is generated, not part of the oracle set)
# ---------------------------------------------------------------------------
# The spans fixture (sources/spans.py) is a pure function of row id over
# modular arithmetic, so DuckDB regenerates it exactly from range(6000) —
# giving the APM metric-synthesis gates full value oracles.
_SPANS_CTE = """
    spans AS (
        SELECT id,
               id % 3 = 0 AS is_root,
               1767225600 + id % 7200 AS start_sec,
               1000 + (id * 7919) % 5000000 AS dur_us,
               CAST(CASE WHEN id % 4 = 0 THEN 2.0 ELSE 1.0 END AS DOUBLE) AS adj,
               'svc-' || (id % 5) AS service,
               CASE WHEN id % 3 = 0 THEN NULL ELSE 'dest-' || (id % 4) END AS destination,
               (id % 3 <> 0) AND (id % 5 = 1) AS is_composite,
               id % 9 + 2 AS composite_count
        FROM range(6000) t(id)
    )
"""


@register(
    "apm_txn_duration_exphist",
    f"""
    WITH {_SPANS_CTE},
    tx AS (
        SELECT (start_sec // 3600) * 3600 AS wsec,
               service,
               CAST(ceil(log2(dur_us) * 16.0) AS INT) - 1 AS bucket_idx,
               adj
        FROM spans WHERE is_root AND dur_us > 0
    ),
    per_bucket AS (
        SELECT wsec, service, bucket_idx, ROUND(SUM(adj), 6) AS bucket_count
        FROM tx GROUP BY 1, 2, 3
    ),
    assembled AS (
        SELECT wsec, service,
               MIN(bucket_idx) AS pos_offset, MAX(bucket_idx) AS max_idx,
               map(list(bucket_idx ORDER BY bucket_idx),
                   list(bucket_count ORDER BY bucket_idx)) AS m,
               ROUND(SUM(bucket_count), 6) AS cnt
        FROM per_bucket GROUP BY 1, 2
    )
    SELECT strftime(make_timestamp(wsec * 1000000), '%Y-%m-%d %H:%M:%S') AS window_start,
           service, 4 AS scale, pos_offset,
           array_to_string(
               list_transform(generate_series(pos_offset, max_idx),
                              i -> CAST(CAST(round(coalesce(m[i][1]::DOUBLE, 0.0)
                                                   * 1000000) AS BIGINT) AS VARCHAR)),
               ',') AS pos_counts,
           cnt AS "count"
    FROM assembled
    """,
)
def q_apm_exphist(spark: SparkSession, sf: str) -> DataFrame:
    # Bucket counts are serialized as a comma-joined micro-count string so the
    # driver's pandas canonicalizer can sort/hash the column (lists are
    # unhashable in pandas.sort_values).
    from .operators.apm_metrics import enrich_spans, transaction_duration_exphist
    from .sources.spans import generate_spans

    hist = transaction_duration_exphist(enrich_spans(generate_spans(spark, 6000)), "60m")
    return hist.select(
        _fmt_ts("window_start").alias("window_start"),
        "service", "scale", "pos_offset",
        F.array_join(
            F.transform(
                "pos_counts",
                lambda x: F.round(x * 1000000).cast("long").cast("string"),
            ),
            ",",
        ).alias("pos_counts"),
        "count",
    )


@register(
    "apm_span_destination",
    f"""
    WITH {_SPANS_CTE}
    SELECT strftime(make_timestamp((start_sec // 3600) * 3600 * 1000000),
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           service, destination,
           ROUND(SUM(CASE WHEN is_composite THEN composite_count * adj ELSE adj END), 6) AS "count",
           ROUND(SUM(CASE WHEN is_composite THEN dur_us * 3.0::DOUBLE * adj ELSE dur_us * adj END), 4) AS sum_us
    FROM spans
    WHERE NOT is_root AND destination IS NOT NULL
    GROUP BY 1, 2, 3
    """,
)
def q_apm_span_dest(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.apm_metrics import enrich_spans, span_destination
    from .sources.spans import generate_spans

    dest = span_destination(enrich_spans(generate_spans(spark, 6000)), "60m")
    return dest.select(
        _fmt_ts("window_start").alias("window_start"),
        "service", "destination", "count", "sum_us",
    )


# ---------------------------------------------------------------------------
# Rollup equivalence through the driver gate: 60m aggregates DERIVED FROM
# 1m partials (the lsminterval rollup path) must equal a direct 60m SQL agg.
# ---------------------------------------------------------------------------
@register(
    "agg_interval_rollup",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS docs,
           ROUND(SUM(value), 4) AS value_sum,
           ROUND(MIN(value), 4) AS value_min,
           ROUND(MAX(value), 4) AS value_max
    FROM events GROUP BY 1, 2
    """,
)
def q_agg_rollup(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events")
    base = ev.groupBy(
        F.date_trunc("minute", "ts").alias("w1m"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("value").alias("vs"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )
    return base.groupBy(
        _fmt_ts(F.date_trunc("hour", "w1m")).alias("window_start"), "event_type"
    ).agg(
        F.sum("docs").alias("docs"),
        F.round(F.sum("vs"), 4).alias("value_sum"),
        F.round(F.min("vmin"), 4).alias("value_min"),
        F.round(F.max("vmax"), 4).alias("value_max"),
    )


# ---------------------------------------------------------------------------
# TPC-H q5/q6-style: multi-join agg + selective scan (bench breadth)
# ---------------------------------------------------------------------------
@register(
    "tpch_q5",
    """
    SELECT n.n_name AS nation,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY 1
    """,
)
def q_tpch_q5(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem")
    orders = load(spark, sf, "orders")
    cust = load(spark, sf, "customer")
    supp = load(spark, sf, "supplier")
    nat = load(spark, sf, "nation")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
    )
    return joined.groupBy(F.col("n_name").alias("nation")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue")
    )


@register(
    "tpch_q6",
    """
    SELECT ROUND(SUM(l_extendedprice * l_discount), 4) AS revenue,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def q_tpch_q6(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem")
    return (
        li.filter(
            (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# Profiling metrics (A12): frame-type windowed counts + regex custom
# aggregation (connector/profilingmetricsconnector/connector.go:86-105)
# ---------------------------------------------------------------------------
@register(
    "profiling_frame_counts",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type AS frame_type,
           COUNT(*) AS samples
    FROM events GROUP BY 1, 2
    """,
)
def q_profiling_frame_counts(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.profiling import profiling_metrics

    ev = load(spark, sf, "events")
    out = profiling_metrics(ev, interval="60m", time_col="ts", frame_type_col="event_type")
    return out.select(
        _fmt_ts("window_start").alias("window_start"),
        F.col("event_type").alias("frame_type"),
        "samples",
    )


@register(
    "profiling_custom_agg",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           COALESCE(regexp_extract(props, '"k": (\\d)', 1), '') AS label,
           COUNT(*) AS samples
    FROM events GROUP BY 1, 2
    """,
)
def q_profiling_custom_agg(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.profiling import custom_aggregation

    ev = load(spark, sf, "events").withColumn("frame_name", F.col("props"))
    out = custom_aggregation(ev, r'"k": (\d)', interval="60m", time_col="ts")
    return out.select(
        _fmt_ts("window_start").alias("window_start"), "label", "samples"
    )


# ---------------------------------------------------------------------------
# Infra-metric remap (E5): OTel name -> Elastic name, originals kept,
# idempotency flag (processor/elasticinframetricsprocessor/processor.go:51-118)
# ---------------------------------------------------------------------------
_REMAP_CASE = """
    CASE event_type WHEN 'view'     THEN 'system.cpu.utilization'
                    WHEN 'click'    THEN 'system.memory.usage'
                    WHEN 'signup'   THEN 'system.network.io'
                    WHEN 'purchase' THEN 'system.filesystem.usage'
                    ELSE 'process.runtime.jvm.cpu.time' END
"""


@register(
    "remap_infra_metrics",
    f"""
    WITH m AS (SELECT {_REMAP_CASE} AS metric_name FROM events),
    u AS (
      SELECT metric_name FROM m
      UNION ALL
      SELECT CASE metric_name
               WHEN 'system.cpu.utilization'    THEN 'system.cpu.total.norm.pct'
               WHEN 'system.memory.usage'       THEN 'system.memory.actual.used.bytes'
               WHEN 'system.network.io'         THEN 'system.network.in.bytes'
               WHEN 'system.filesystem.usage'   THEN 'system.filesystem.used.bytes'
             END
      FROM m
      WHERE metric_name IN ('system.cpu.utilization','system.memory.usage',
                            'system.network.io','system.filesystem.usage')
    )
    SELECT metric_name, COUNT(*) AS docs FROM u GROUP BY 1
    """,
)
def q_remap_infra_metrics(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.remap import remap_metric_names

    ev = load(spark, sf, "events").withColumn(
        "metric_name",
        F.when(F.col("event_type") == "view", F.lit("system.cpu.utilization"))
        .when(F.col("event_type") == "click", F.lit("system.memory.usage"))
        .when(F.col("event_type") == "signup", F.lit("system.network.io"))
        .when(F.col("event_type") == "purchase", F.lit("system.filesystem.usage"))
        .otherwise(F.lit("process.runtime.jvm.cpu.time")),
    )
    out = remap_metric_names(ev, drop_original=False)
    return out.groupBy("metric_name").agg(F.count(F.lit(1)).alias("docs"))


# ---------------------------------------------------------------------------
# CSV decode round-trip (S9): beatsencodingextension csv codec
# (extension/beatsencodingextension/extension.go:284)
# ---------------------------------------------------------------------------
@register(
    "decode_csv",
    """
    SELECT event_type, COUNT(*) AS docs, CAST(SUM(user_id) AS BIGINT) AS user_sum
    FROM events GROUP BY 1
    """,
)
def q_decode_csv(spark: SparkSession, sf: str) -> DataFrame:
    from .sources.decoders import decode_csv

    lines = load(spark, sf, "events").select(
        F.concat_ws(",", "event_id", "event_type", "user_id").alias("value")
    )
    rec = decode_csv(lines, "event_id LONG, event_type STRING, user_id LONG")
    return rec.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("docs"), F.sum("user_id").alias("user_sum")
    )


# ---------------------------------------------------------------------------
# Lineage rows (M5/K2 WAL analog): per-sink commit metrics
# (plans/sinks.py::lineage_rows; akamaisiem cursor receiver.go:259-303)
# ---------------------------------------------------------------------------
@register(
    "lineage_per_sink",
    """
    SELECT CASE WHEN event_type = 'error' THEN 'logs.error'
                ELSE 'logs.' || event_type END AS sink,
           COUNT(*) AS rows_out,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS min_ts,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS max_ts
    FROM events GROUP BY 1
    """,
)
def q_lineage_per_sink(spark: SparkSession, sf: str) -> DataFrame:
    from .plans.sinks import lineage_rows

    ev = load(spark, sf, "events").withColumn(
        "sink",
        F.when(F.col("event_type") == "error", F.lit("logs.error")).otherwise(
            F.concat(F.lit("logs."), F.col("event_type"))
        ),
    )
    rows = lineage_rows(ev, route_col="sink", ts_col="ts")
    return rows.select(
        "sink",
        "rows_out",
        _fmt_ts("min_ts").alias("min_ts"),
        _fmt_ts("max_ts").alias("max_ts"),
    )


# ---------------------------------------------------------------------------
# APM transaction.duration.summary (A11): 1-bucket histogram = count+sum
# (connector/elasticapmconnector/config.go:345-415)
# ---------------------------------------------------------------------------
@register(
    "apm_txn_duration_summary",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS value_count,
           ROUND(SUM(value), 4) AS value_sum,
           ROUND(MIN(value), 4) AS value_min,
           ROUND(MAX(value), 4) AS value_max
    FROM events GROUP BY 1, 2
    """,
)
def q_apm_txn_duration_summary(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events")
    from .operators.aggregate import trunc_to_interval

    return ev.groupBy(
        _fmt_ts(trunc_to_interval(F.col("ts"), "60m")).alias("window_start"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("value_count"),
        F.round(F.sum("value"), 4).alias("value_sum"),
        F.round(F.min("value"), 4).alias("value_min"),
        F.round(F.max("value"), 4).alias("value_max"),
    )


# ---------------------------------------------------------------------------
# TPC-H q10 / q14 / q18 — broadcast-join + agg gates at scale
# ---------------------------------------------------------------------------
@register(
    "tpch_q10",
    """
    SELECT c.c_custkey, c.c_name,
           ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE),
                 4) AS revenue,
           n.n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
      AND l.l_returnflag = 'R'
    GROUP BY 1, 2, 4
    """,
)
def q_tpch_q10(spark: SparkSession, sf: str) -> DataFrame:
    cust = load(spark, sf, "customer")
    orders = load(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = load(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    nat = load(spark, sf, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
                ).cast("double"),
                4,
            ).alias("revenue")
        )
    )


@register(
    "tpch_q14",
    """
    SELECT ROUND(100.0 * SUM(CASE WHEN p.p_type LIKE 'PROMO%'
                   THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END)
           / SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1996-02-01'
    """,
)
def q_tpch_q14(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-02-01")
    )
    part = load(spark, sf, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                4,
            ).alias("promo_revenue")
        )
    )


@register(
    "tpch_q18",
    """
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
           o.o_totalprice,
           SUM(l.l_quantity) AS qty_sum
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY 1 HAVING SUM(l_quantity) > 210
    )
    GROUP BY 1, 2, 3, 4, 5
    """,
)
def q_tpch_q18(spark: SparkSession, sf: str) -> DataFrame:
    cust = load(spark, sf, "customer").select("c_custkey", "c_name")
    orders = load(spark, sf, "orders")
    li = load(spark, sf, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .filter(F.col("_q") > 210)
        .select("l_orderkey")
    )
    return (
        li.join(F.broadcast(big.withColumnRenamed("l_orderkey", "_bk")), F.col("l_orderkey") == F.col("_bk"))
        .join(orders, F.col("l_orderkey") == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            "c_name",
            "c_custkey",
            "o_orderkey",
            _fmt_ts("o_orderdate").alias("o_orderdate"),
            "o_totalprice",
        )
        .agg(F.sum("l_quantity").alias("qty_sum"))
    )


# ---------------------------------------------------------------------------
# IVF top-k ANN (training-data pipeline, scale path): coarse-assign to the
# 5 seed centroids, probe the query's 2 nearest cells, exact top-10 within
# ---------------------------------------------------------------------------
@register(
    "embedding_ivf_topk",
    """
    WITH cents AS (
        SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cv
        FROM embeddings WHERE vec_id < 5
    ), q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    probes AS (
        SELECT centroid_id
        FROM cents, q
        ORDER BY ROUND(list_cosine_similarity(q.qv, cents.cv), 6) DESC, centroid_id
        LIMIT 2
    ), assigned AS (
        SELECT e.vec_id, e.embedding,
               (SELECT c.centroid_id FROM cents c
                ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], c.cv), 6) DESC,
                         c.centroid_id
                LIMIT 1) AS cid
        FROM embeddings e
    )
    SELECT a.vec_id,
           ROUND(list_cosine_similarity(a.embedding::DOUBLE[], q.qv), 6) AS cos_sim
    FROM assigned a, q
    WHERE a.cid IN (SELECT centroid_id FROM probes)
    ORDER BY cos_sim DESC, a.vec_id
    LIMIT 10
    """,
)
def q_embedding_ivf(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.similarity import ivf_topk

    emb = load(spark, sf, "embeddings")
    seeds = emb.filter(F.col("vec_id") < 5).orderBy("vec_id").collect()
    cents = [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in seeds]
    qvec = cents[0][1]
    return ivf_topk(emb, qvec, cents, k=10, nprobe=2)


@register(
    "embedding_knn_join",
    """
    WITH cents AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
        FROM embeddings WHERE vec_id < 5
    ), corpus_cell AS (
        SELECT e.vec_id AS nid, e.embedding::DOUBLE[] AS nv,
               (SELECT c.cid FROM cents c
                ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], c.cv), 6) DESC,
                         c.cid
                LIMIT 1) AS cell
        FROM embeddings e
    ), query_cells AS (
        SELECT q.vec_id AS qid, q.embedding::DOUBLE[] AS qv, c.cid AS cell,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                   ORDER BY ROUND(list_cosine_similarity(q.embedding::DOUBLE[], c.cv), 6) DESC,
                            c.cid) AS prk
        FROM embeddings q CROSS JOIN cents c
        WHERE q.vec_id < 32
    ), scored AS (
        SELECT qc.qid, cc.nid,
               ROUND(list_cosine_similarity(qc.qv, cc.nv), 6) AS cos6
        FROM query_cells qc JOIN corpus_cell cc ON cc.cell = qc.cell
        WHERE qc.prk <= 2 AND cc.nid <> qc.qid
    ), ranked AS (
        SELECT qid, nid, cos6,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos6 DESC, nid) AS rk
        FROM scored
    )
    SELECT qid AS query_id, nid AS neighbor_id, ROUND(cos6, 4) AS cos_sim
    FROM ranked WHERE rk <= 5
    """,
)
def q_embedding_knn_join(spark: SparkSession, sf: str) -> DataFrame:
    """Batch ANN join (kNN-graph shape): the first 32 vectors each get
    their IVF-blocked top-5 neighbors from the whole table in ONE job —
    cell-equi-join candidates, per-query windowed top-k, never a
    query-at-a-time loop or a queries x corpus product."""
    from .operators.similarity import knn_join

    emb = load(spark, sf, "embeddings")
    seeds = emb.filter(F.col("vec_id") < 5).orderBy("vec_id").collect()
    cents = [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in seeds]
    queries = emb.filter(F.col("vec_id") < 32).withColumnRenamed("vec_id", "query_id")
    return knn_join(queries, emb, cents, k=5, nprobe=2, exclude_self=True)


@register(
    "embedding_ivf_pq_topk",
    """
    WITH cents AS (
        SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cv
        FROM embeddings WHERE vec_id < 5
    ), q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    probes AS (
        SELECT centroid_id
        FROM cents, q
        ORDER BY ROUND(list_cosine_similarity(q.embedding::DOUBLE[], cents.cv), 6) DESC,
                 centroid_id
        LIMIT 2
    ), assigned AS (
        SELECT e.vec_id, e.embedding,
               (SELECT c.centroid_id FROM cents c
                ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], c.cv), 6) DESC,
                         c.centroid_id
                LIMIT 1) AS cid
        FROM embeddings e
    ), cand AS (
        SELECT vec_id, embedding FROM assigned
        WHERE cid IN (SELECT centroid_id FROM probes)
    ),
    pq_seeds AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id < 16
    ),
    subs AS (SELECT unnest(range(8)) AS s),
    dists AS (
        SELECT e.vec_id, subs.s, j.vec_id AS code,
               list_sum(list_transform(range(8),
                   i -> pow(e.embedding[subs.s*8 + i + 1]::DOUBLE
                            - j.embedding[subs.s*8 + i + 1]::DOUBLE, 2))) AS d
        FROM cand e CROSS JOIN subs CROSS JOIN pq_seeds j
    ),
    enc AS (
        SELECT vec_id, s, code FROM dists
        QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                   ORDER BY d ASC, code ASC) = 1
    ),
    lut AS (
        SELECT subs.s, j.vec_id AS code,
               list_sum(list_transform(range(8),
                   i -> pow(q.embedding[subs.s*8 + i + 1]::DOUBLE
                            - j.embedding[subs.s*8 + i + 1]::DOUBLE, 2))) AS d
        FROM pq_seeds j CROSS JOIN subs CROSS JOIN q
    )
    SELECT enc.vec_id, ROUND(SUM(lut.d), 6) AS adc_dist
    FROM enc JOIN lut ON lut.s = enc.s AND lut.code = enc.code
    GROUP BY enc.vec_id
    ORDER BY adc_dist ASC, enc.vec_id ASC
    LIMIT 10
    """,
)
def q_embedding_ivf_pq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Composed IVF-PQ (the production billion-vector shape): coarse
    quantizer prunes to 2 of 5 cells, PQ ADC scores only the survivors."""
    from .operators.similarity import ivf_pq_topk, pq_codebooks_from_seeds

    emb = load(spark, sf, "embeddings")
    seeds = emb.filter(F.col("vec_id") < 5).orderBy("vec_id").collect()
    cents = [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in seeds]
    cbs = pq_codebooks_from_seeds(emb, m=8, ksub=16)
    return ivf_pq_topk(emb, cents[0][1], cents, cbs, k=10, nprobe=2)


@register(
    "embedding_pq_topk",
    """
    WITH seeds AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id < 16
    ),
    subs AS (SELECT unnest(range(8)) AS s),
    q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    dists AS (
        SELECT e.vec_id, subs.s, j.vec_id AS code,
               list_sum(list_transform(range(8),
                   i -> pow(e.embedding[subs.s*8 + i + 1]::DOUBLE
                            - j.embedding[subs.s*8 + i + 1]::DOUBLE, 2))) AS d
        FROM embeddings e CROSS JOIN subs CROSS JOIN seeds j
    ),
    enc AS (
        SELECT vec_id, s, code FROM dists
        QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                   ORDER BY d ASC, code ASC) = 1
    ),
    lut AS (
        SELECT subs.s, j.vec_id AS code,
               list_sum(list_transform(range(8),
                   i -> pow(q.embedding[subs.s*8 + i + 1]::DOUBLE
                            - j.embedding[subs.s*8 + i + 1]::DOUBLE, 2))) AS d
        FROM seeds j CROSS JOIN subs CROSS JOIN q
    )
    SELECT enc.vec_id, ROUND(SUM(lut.d), 6) AS adc_dist
    FROM enc JOIN lut ON lut.s = enc.s AND lut.code = enc.code
    GROUP BY enc.vec_id
    ORDER BY adc_dist ASC, enc.vec_id ASC
    LIMIT 10
    """,
)
def q_embedding_pq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization ANN: 64 dims -> 8 subspaces x 16 seed
    centroids; vectors encode to 8 codes, query scoring is 8 lookups in a
    driver-computed ADC table (the billion-vector memory-scale path).
    The oracle replays encode + ADC relationally from the same seeds."""
    from .operators.similarity import pq_adc_topk, pq_codebooks_from_seeds

    emb = load(spark, sf, "embeddings")
    cbs = pq_codebooks_from_seeds(emb, m=8, ksub=16)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    return pq_adc_topk(emb, qvec, cbs, k=10)


# ---------------------------------------------------------------------------
# Multimodal plumbing (training-data pipeline): binary payload ->
# mapInPandas feature extraction; deterministic stub decode makes the
# byte accounting oracle-expressible (operators/multimodal.py)
# ---------------------------------------------------------------------------
@register(
    "multimodal_features",
    """
    WITH media AS (
        SELECT range AS id,
               CASE range % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                              ELSE 'video' END AS kind,
               6 + length(CAST(range AS VARCHAR)) + (range % 64) * 16 AS n_bytes
        FROM range(500)
    )
    SELECT kind, COUNT(*) AS media_count, CAST(SUM(n_bytes) AS BIGINT) AS bytes_total
    FROM media GROUP BY 1
    """,
)
def q_multimodal_features(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.multimodal import extract_features, generate_media

    feats = extract_features(generate_media(spark, 500))
    return feats.groupBy("kind").agg(
        F.count(F.lit(1)).alias("media_count"),
        F.sum("n_bytes").alias("bytes_total"),
    )


# ---------------------------------------------------------------------------
# Streaming interval aggregation gate (A1, streaming form): the same 1m
# count/sum aggregate run through Structured Streaming (file source,
# availableNow trigger, memory sink) — result is exactly the batch answer,
# so the batch SQL is its oracle (streaming/interval.py is the
# watermarked/append production form; complete mode here because the gate
# needs every window emitted at drain time)
# ---------------------------------------------------------------------------
@register(
    "streaming_interval_1m",
    """
    SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS docs,
           ROUND(SUM(value), 4) AS value_sum
    FROM events GROUP BY 1, 2
    """,
)
def q_streaming_interval_1m(spark: SparkSession, sf: str) -> DataFrame:
    schema = spark.read.parquet(f"{sf}/events.parquet").schema
    # events.parquet is a single file; the file stream source wants a
    # directory/glob, so match it with a glob (basePath then infers to sf)
    stream = spark.readStream.schema(schema).parquet(f"{sf}/events.*")
    agg = (
        stream.groupBy(F.window("ts", "1 minute").alias("_w"), "event_type")
        .agg(F.count(F.lit(1)).alias("docs"), F.sum("value").alias("_vs"))
    )
    return _run_stream_gate(spark, agg, "stream_gate_interval_1m").select(
        _fmt_ts(F.col("_w.start")).alias("window_start"),
        "event_type",
        "docs",
        F.round("_vs", 4).alias("value_sum"),
    )


# ---------------------------------------------------------------------------
# Streaming exact windowed distinct-count: chained dropDuplicates ->
# windowed count (Spark rejects count_distinct in a streaming aggregate).
# Oracle is the batch COUNT(DISTINCT) per 10-minute bucket — stream == batch
# is the gate.  Bucket start restated as FLOOR(epoch/600)*600 seconds
# (BIGINT, epoch-aligned exactly like Spark's window()).
# ---------------------------------------------------------------------------
@register(
    "streaming_distinct_users",
    """
    SELECT strftime(make_timestamp(
               CAST(FLOOR(epoch(ts) / 600) * 600 AS BIGINT) * 1000000),
               '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct
    FROM events GROUP BY 1, 2
    """,
)
def q_streaming_distinct_users(spark: SparkSession, sf: str) -> DataFrame:
    from .streaming.distinct import windowed_distinct_count

    schema = spark.read.parquet(f"{sf}/events.parquet").schema
    stream = spark.readStream.schema(schema).parquet(f"{sf}/events.*")
    agg = windowed_distinct_count(
        stream, ts_col="ts", window="10 minutes", id_col="user_id",
        group_cols=("event_type",),
    )
    return _run_stream_gate(spark, agg, "stream_gate_distinct_users").select(
        _fmt_ts(F.col("_w.start")).alias("window_start"),
        "event_type",
        F.col("n_distinct").cast("long").alias("n_distinct"),
    )


# ---------------------------------------------------------------------------
# Streaming MULTI-interval rollup (A1 streaming form, all three intervals):
# one stateful 1m aggregate, 10m/60m derived from the 1m partials inside
# foreachBatch (streaming/interval.py::streaming_interval_rollup) — the
# oracle is the direct batch SQL per interval, so stream == batch is the
# gate condition for 1m AND the rollups.
# ---------------------------------------------------------------------------
@register(
    "streaming_interval_rollup",
    """
    SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
           event_type, COUNT(*) AS docs, ROUND(SUM(value), 4) AS value_sum,
           '1m' AS metricset_interval
    FROM events GROUP BY 1, 2
    UNION ALL
    SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), '%Y-%m-%d %H:%M:%S'),
           event_type, COUNT(*), ROUND(SUM(value), 4), '10m'
    FROM events GROUP BY 1, 2
    UNION ALL
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S'),
           event_type, COUNT(*), ROUND(SUM(value), 4), '60m'
    FROM events GROUP BY 1, 2
    """,
)
def q_streaming_interval_rollup(spark: SparkSession, sf: str) -> DataFrame:
    import hashlib
    import os
    import shutil
    import tempfile

    from .streaming.interval import (
        read_interval_rollup,
        streaming_interval_rollup_update,
    )

    schema = spark.read.parquet(f"{sf}/events.parquet").schema
    stream = spark.readStream.schema(schema).parquet(f"{sf}/events.*")
    name = "stream_gate_interval_rollup"
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    # fixed per-user partials path per sf dir; removed up-front because the
    # update path MERGEs into it (a stale table would contaminate);
    # checkpoint is fresh per run and removed even when the drain fails
    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    out_path = os.path.join(
        tempfile.gettempdir(), f"spark_graft_{os.getuid()}_stream_rollup_{tag}"
    )
    shutil.rmtree(out_path, ignore_errors=True)
    ckpt = tempfile.mkdtemp(prefix="ckpt_gate_rollup_")
    try:
        query = streaming_interval_rollup_update(
            stream, ["event_type"], out_path, ckpt, query_name=name
        )
        query.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    res = read_interval_rollup(spark, out_path, ["event_type"])
    return res.select(
        _fmt_ts(F.col("window_start")).alias("window_start"),
        "event_type",
        "docs",
        F.round("value_sum", 4).alias("value_sum"),
        "metricset_interval",
    )


# ---------------------------------------------------------------------------
# Watermark late-data DROP semantics (streaming/interval.py:
# streaming_interval_rollup_update with watermark set): three staged
# micro-batches; batch 3 carries rows rewritten 2 hours older than the
# batch-1 frontier — far behind the 10-minute watermark — while on-time
# rows sit AT the frontier.  Spark drops the late rows on input; the
# oracle is the batch aggregate with ONLY the on-time rows kept, so
# stream == batch-with-late-rows-filtered is the gate.
# ---------------------------------------------------------------------------
@register(
    "streaming_interval_late_drop",
    """
    WITH b1 AS (
        SELECT event_type, ts, value FROM events WHERE event_id % 4 <> 0
    ), mx AS (SELECT MAX(ts) AS tmax FROM b1),
    kept AS (
        SELECT event_type, ts, value FROM b1
        UNION ALL
        SELECT event_type, mx.tmax AS ts, value FROM events, mx
        WHERE event_id % 8 = 4 OR event_id % 16 = 0
    )
    SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
           event_type, COUNT(*) AS docs,
           ROUND(SUM(value), 4) AS value_sum
    FROM kept GROUP BY 1, 2
    """,
)
def q_streaming_interval_late_drop(spark: SparkSession, sf: str) -> DataFrame:
    """Watermarked update-mode rollup under genuinely late data: batch 1
    is 3/4 of the events on their own timestamps; batch 2 is on-time
    filler at the batch-1 max timestamp (watermark updates propagate
    with a ONE-BATCH delay in Spark — the value committed after batch N
    first filters input in batch N+2, verified via
    numRowsDroppedByWatermark — so the filler batch carries the
    advanced watermark into the operator); batch 3 mixes on-time rows
    at the frontier with rows 2 hours behind it, far outside the
    10-minute watermark.  The merged partials must equal the batch
    aggregate with the late rows filtered — the drop semantics the
    ``watermark`` parameter promises, exercised end-to-end instead of
    trusted."""
    return _late_drop_run(spark, sf)[0]


def _late_drop_run(spark: SparkSession, sf: str):
    """Shared driver for the gate (returns the merged partials) and the
    boundedness test (returns the per-batch stats rows too)."""
    import glob
    import hashlib
    import os
    import shutil
    import tempfile

    from .streaming.interval import streaming_interval_rollup_update

    # watermarks require TIMESTAMP (ltz); the fixture's ts is NTZ.  The
    # session TZ is pinned UTC, so the cast is value-identical.
    ev = load(spark, sf, "events").select(
        "event_id", "event_type", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    b1 = ev.where(F.col("event_id") % 4 != 0)
    tmax = b1.agg(F.max("ts")).collect()[0][0]
    b2 = ev.where(F.col("event_id") % 8 == 4).select(
        "event_id", "event_type", F.lit(tmax).alias("ts"), "value"
    )
    b3 = ev.where(F.col("event_id") % 8 == 0).select(
        "event_id",
        "event_type",
        F.when(
            F.col("event_id") % 16 == 0, F.lit(tmax)
        )
        .otherwise(F.lit(tmax) - F.expr("INTERVAL 2 HOURS"))
        .alias("ts"),
        "value",
    )
    name = "stream_gate_late_drop"
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    tmp = tempfile.mkdtemp(prefix="late_drop_gate_")
    data = f"{tmp}/data"
    os.makedirs(data)
    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    out_path = os.path.join(
        tempfile.gettempdir(), f"spark_graft_{os.getuid()}_late_drop_{tag}"
    )
    shutil.rmtree(out_path, ignore_errors=True)
    stats: list = []
    try:
        for n, part_df in enumerate([b1, b2, b3]):
            stage = f"{tmp}/stage{n}"
            part_df.drop("event_id").coalesce(1).write.parquet(stage)
            shutil.copy(
                glob.glob(f"{stage}/part-*.parquet")[0],
                f"{data}/{n:03d}.parquet",
            )
            os.utime(f"{data}/{n:03d}.parquet", (1000 + n, 1000 + n))
        stream = (
            spark.readStream.schema(b1.drop("event_id").schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(data)
        )
        query = streaming_interval_rollup_update(
            stream,
            ["event_type"],
            out_path,
            f"{tmp}/ckpt",
            time_col="ts",
            value_col="value",
            interval="1m",
            query_name=name,
            stats=stats,
            watermark="10 minutes",
        )
        query.awaitTermination()
        res = spark.read.parquet(out_path).select(
            _fmt_ts(F.col("window_start")).alias("window_start"),
            "event_type",
            "docs",
            F.round("value_sum", 4).alias("value_sum"),
        )
        return spark.createDataFrame(res.collect(), res.schema), stats
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(out_path, ignore_errors=True)


# ---------------------------------------------------------------------------
# User-agent parsing (E1 uaparser slot): vectorized pandas-UDF family +
# version inference, golden-checked against hand-derived parses in SQL
# ---------------------------------------------------------------------------
_UA_SAMPLES = [
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64; rv:109.0) Gecko/20100101 Firefox/115.0",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.0 Safari/605.1.15",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36 Edg/120.0.2210.91",
    "Mozilla/5.0 (Windows NT 10.0) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36 OPR/106.0.0.0",
    "curl/8.4.0",
    "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_0 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.0 Mobile/15E148 Safari/604.1",
    "SomethingUnknown/1.0",
]
_UA_EXPECTED = [
    ("Chrome", "120.0.0.0"),
    ("Firefox", "115.0"),
    ("Safari", "17.0"),
    ("Edge", "120.0.2210.91"),
    ("Opera", "106.0.0.0"),
    ("curl", "8.4.0"),
    ("Googlebot", "2.1"),
    ("Mobile Safari", "17.0"),
    ("Other", ""),
]
_UA_ORACLE_CASES = "\n".join(
    f"             WHEN {i} THEN ('{n}', '{v}')" for i, (n, v) in enumerate(_UA_EXPECTED)
)


@register(
    "ua_parse_families",
    f"""
    WITH parsed AS (
      SELECT CASE user_id % 9
{_UA_ORACLE_CASES}
             END AS p
      FROM events
    )
    SELECT p[1] AS ua_name, p[2] AS ua_version, COUNT(*) AS docs
    FROM parsed GROUP BY 1, 2
    """,
)
def q_ua_parse_families(spark: SparkSession, sf: str) -> DataFrame:
    from .functions.uaparse import parse_user_agent

    ev = load(spark, sf, "events").withColumn(
        "user_agent_original",
        F.element_at(
            F.array(*[F.lit(s) for s in _UA_SAMPLES]),
            (F.pmod(F.col("user_id"), F.lit(9)) + 1).cast("int"),
        ),
    )
    parsed = ev.withColumn("_ua", parse_user_agent(F.col("user_agent_original")))
    return parsed.groupBy(
        F.col("_ua.name").alias("ua_name"), F.col("_ua.version").alias("ua_version")
    ).agg(F.count(F.lit(1)).alias("docs"))


# ---------------------------------------------------------------------------
# Rate limiting (L1): per-key deterministic quota — the ratelimitprocessor
# "requests" strategy in batch form (streaming/admission.py::per_key_quota)
# ---------------------------------------------------------------------------
@register(
    "ratelimit_per_key_quota",
    """
    WITH ranked AS (
      SELECT user_id,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) > 3
               AS throttled
      FROM events
    )
    SELECT user_id,
           CAST(SUM(CASE WHEN throttled THEN 0 ELSE 1 END) AS BIGINT) AS admitted,
           CAST(SUM(CASE WHEN throttled THEN 1 ELSE 0 END) AS BIGINT) AS throttled_count
    FROM ranked GROUP BY 1
    """,
)
def q_ratelimit_per_key_quota(spark: SparkSession, sf: str) -> DataFrame:
    from .streaming.admission import per_key_quota

    ev = load(spark, sf, "events")
    out = per_key_quota(ev, ["user_id"], quota=3, order_col="event_id")
    return out.groupBy("user_id").agg(
        F.sum(F.when(F.col("throttled"), 0).otherwise(1)).alias("admitted"),
        F.sum(F.when(F.col("throttled"), 1).otherwise(0)).alias("throttled_count"),
    )


# ---------------------------------------------------------------------------
# md5-engine dedup/similarity gates: same algorithms as the xxhash64 scale
# path above, but with hashes every SQL engine can compute — upgrading the
# MinHash-LSH / SimHash / hyperplane-LSH gates from rows-only to exact
# value oracles.
# ---------------------------------------------------------------------------
_SHINGLES_CTE = """
    toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ),
    sh AS (
        SELECT doc_id,
               list_distinct([array_to_string(t[i:i+2], chr(1)) for i in range(1, len(t) - 1)]) AS shingles
        FROM toks WHERE len(t) >= 3
    ),
    ex AS (
        SELECT doc_id, unnest(shingles) AS shingle FROM sh
    )
"""


@register(
    "dedup_minhash_lsh_md5",
    f"""
    WITH {_SHINGLES_CTE},
    hashed AS (
        SELECT doc_id, seeds.seed,
               ('0x' || substr(md5(shingle || ':' || seeds.seed), 1, 15))::BIGINT AS h
        FROM ex CROSS JOIN (SELECT unnest(range(32)) AS seed) seeds
    ),
    mins AS (SELECT doc_id, seed, MIN(h) AS mh FROM hashed GROUP BY 1, 2),
    bands AS (
        SELECT doc_id, seed // 4 AS band,
               md5(string_agg(mh::VARCHAR, ',' ORDER BY seed)) AS bh
        FROM mins GROUP BY doc_id, seed // 4
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY 1),
    commons AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT c.id_a, c.id_b,
           ROUND(n_common / (sa.n + sb.n - n_common), 4) AS jaccard
    FROM cand c
    JOIN commons co ON co.id_a = c.id_a AND co.id_b = c.id_b
    JOIN sizes sa ON sa.doc_id = c.id_a
    JOIN sizes sb ON sb.doc_id = c.id_b
    WHERE ROUND(n_common / (sa.n + sb.n - n_common), 4) >= 0.2
    """,
)
def q_dedup_minhash_md5(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.dedup import minhash_lsh_pairs

    docs = load_docs_spread(spark, sf)
    return minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.2, engine="md5")


def _components_oracle_sql() -> str:
    """Connected components over the replayed minhash pair list plus the
    planted V-graphs, via a recursive reachability CTE: each node's
    component is the minimum id it can reach (graph is undirected, so
    min-reachable == component min)."""
    return f"""
    WITH RECURSIVE mh AS (
        SELECT id_a, id_b FROM ({ORACLE_SQL["dedup_minhash_lsh_md5"]}) t
    ),
    planted AS (
        SELECT 2000000 + 3*i AS id_a, 2000000 + 3*i + 2 AS id_b
        FROM (SELECT unnest(range(5)) AS i)
        UNION ALL
        SELECT 2000000 + 3*i + 1, 2000000 + 3*i + 2
        FROM (SELECT unnest(range(5)) AS i)
    ),
    edges AS (SELECT * FROM mh UNION ALL SELECT * FROM planted),
    und AS (
        SELECT id_a AS src, id_b AS dst FROM edges
        UNION ALL SELECT id_b, id_a FROM edges
    ),
    reach AS (
        SELECT DISTINCT src AS id, src AS label FROM und
        UNION
        SELECT u.src AS id, r.label FROM und u JOIN reach r ON r.id = u.dst
    )
    SELECT CAST(id AS BIGINT) AS doc_id,
           CAST(MIN(label) AS BIGINT) AS component,
           id NOT IN (SELECT id_b FROM edges) AS survives_pairdrop
    FROM reach GROUP BY id
    """


@register("near_dedup_components", _components_oracle_sql())
def q_near_dedup_components(spark: SparkSession, sf: str) -> DataFrame:
    """Transitive near-dup clusters (VERDICT r3 directive #8): label
    propagation over the REAL minhash-LSH pair list plus five planted
    V-graphs (x,z),(y,z) — the exact shape where the single-pass pair-drop
    policy (keeps x AND y) and one-per-component (keeps only x) diverge,
    which the ``survives_pairdrop`` column exposes next to the component
    label.  The oracle recomputes the same clusters with a recursive
    reachability CTE over the verbatim-reused minhash oracle SQL."""
    from .operators.dedup import minhash_lsh_pairs, near_dedup_components

    docs = load_docs_spread(spark, sf)
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.2, engine="md5"
    ).select("id_a", "id_b")
    i = spark.range(5).select(F.col("id").alias("i"))
    base = F.lit(2000000) + 3 * F.col("i")
    planted = i.select(base.alias("id_a"), (base + 2).alias("id_b")).unionByName(
        i.select((base + 1).alias("id_a"), (base + 2).alias("id_b"))
    )
    edges = pairs.unionByName(planted)
    comp = near_dedup_components(edges)
    dropped = edges.select(F.col("id_b").alias("doc_id")).distinct().withColumn(
        "dropped", F.lit(True)
    )
    return comp.join(dropped, "doc_id", "left").select(
        "doc_id",
        "component",
        F.col("dropped").isNull().alias("survives_pairdrop"),
    )


@register(
    "decontaminate_fuzzy",
    f"""
    WITH bench AS (
        SELECT doc_id + 1000000 AS doc_id,
               array_to_string(
                   string_split(text, ' ')[1:greatest((len(string_split(text, ' ')) * 4) // 5, 1)],
                   ' ') AS text
        FROM documents WHERE doc_id % 50 = 0
    ),
    all_docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL SELECT doc_id, text FROM bench
    ),
    toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM all_docs
    ),
    sh AS (
        SELECT doc_id,
               list_distinct([array_to_string(t[i:i+2], chr(1)) for i in range(1, len(t) - 1)]) AS shingles
        FROM toks WHERE len(t) >= 3
    ),
    ex AS (
        SELECT doc_id, unnest(shingles) AS shingle FROM sh
    ),
    hashed AS (
        SELECT doc_id, seeds.seed,
               ('0x' || substr(md5(shingle || ':' || seeds.seed), 1, 15))::BIGINT AS h
        FROM ex CROSS JOIN (SELECT unnest(range(32)) AS seed) seeds
    ),
    mins AS (SELECT doc_id, seed, MIN(h) AS mh FROM hashed GROUP BY 1, 2),
    bands AS (
        SELECT doc_id, seed // 4 AS band,
               md5(string_agg(mh::VARCHAR, ',' ORDER BY seed)) AS bh
        FROM mins GROUP BY doc_id, seed // 4
    ),
    cand AS (
        SELECT DISTINCT c.doc_id AS corpus_id, b.doc_id AS bench_id
        FROM bands c JOIN bands b ON c.band = b.band AND c.bh = b.bh
        WHERE c.doc_id < 1000000 AND b.doc_id >= 1000000
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY 1),
    commons AS (
        SELECT c.doc_id AS corpus_id, b.doc_id AS bench_id, COUNT(*) AS n_common
        FROM ex c JOIN ex b ON c.shingle = b.shingle
        WHERE c.doc_id < 1000000 AND b.doc_id >= 1000000
        GROUP BY 1, 2
    )
    SELECT ca.corpus_id, ca.bench_id,
           ROUND(n_common / (sc.n + sb.n - n_common), 4) AS jaccard
    FROM cand ca
    JOIN commons co ON co.corpus_id = ca.corpus_id AND co.bench_id = ca.bench_id
    JOIN sizes sc ON sc.doc_id = ca.corpus_id
    JOIN sizes sb ON sb.doc_id = ca.bench_id
    WHERE ROUND(n_common / (sc.n + sb.n - n_common), 4) >= 0.2
    """,
)
def q_decontaminate_fuzzy(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup benchmark decontamination (MinHash bands vs a broadcast
    benchmark set + candidate-restricted Jaccard verify): catches the
    paraphrased/truncated contamination the exact 13-gram rule misses.
    The benchmark here is PLANTED contamination — every 50th document
    truncated to its first 80% of tokens — so the gate proves recall,
    not just agreement on an empty result."""
    from .operators.dedup import contaminated_ids_fuzzy

    docs = load_docs_spread(spark, sf)
    toks = F.split(F.col("text"), " ")
    n80 = F.greatest(F.floor(F.size(toks) * 4 / 5).cast("int"), F.lit(1))
    bench = docs.where(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.array_join(F.slice(toks, 1, n80), " ").alias("text"),
    )
    return contaminated_ids_fuzzy(docs, bench, threshold=0.2, engine="md5")


@register(
    "dedup_simhash_md5",
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
    ),
    h AS (
        SELECT doc_id, ('0x' || substr(md5(tok || ':0'), 1, 15))::BIGINT AS h FROM toks
    ),
    bits AS (
        SELECT doc_id, bs.b,
               SUM(CASE WHEN (h >> bs.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
        FROM h CROSS JOIN (SELECT unnest(range(60)) AS b) bs
        GROUP BY 1, 2
    ),
    sim AS (
        SELECT doc_id,
               SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS sh
        FROM bits GROUP BY 1
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.sh, b.sh)) AS hamming
    FROM sim a JOIN sim b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= 3
    """,
)
def q_dedup_simhash_md5(spark: SparkSession, sf: str) -> DataFrame:
    # max_hamming=3 with 4 chunk blocks is pigeonhole-COMPLETE, so the
    # blocked Spark plan equals the all-pairs SQL above exactly.
    from .operators.dedup import simhash_near_pairs

    docs = load_docs_spread(spark, sf)
    return simhash_near_pairs(docs, "doc_id", "text", max_hamming=3, engine="md5")


@register(
    "dedup_embedding_cosine",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(a.v, b.v), 4) AS cos_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE ROUND(list_cosine_similarity(a.v, b.v), 4) >= 0.4
    """,
)
def q_dedup_embedding_cosine(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.similarity import embedding_near_pairs

    emb = load(spark, sf, "embeddings")
    return embedding_near_pairs(emb, threshold=0.4, allow_all_pairs=True)


def _lsh_md5_oracle_sql() -> str:
    from .operators.similarity import md5_plane_signs

    planes = md5_plane_signs(4, 64)
    cases = "\n         + ".join(
        f"(CASE WHEN list_dot_product(v, [{', '.join(str(x) for x in planes[p])}]) > 0"
        f" THEN {1 << p} ELSE 0 END)"
        for p in range(4)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (
        SELECT vec_id, v,
           {cases} AS bucket
        FROM e
    ),
    q AS (SELECT v AS qv, bucket AS qb FROM b WHERE vec_id = 0)
    SELECT b.vec_id, ROUND(list_cosine_similarity(b.v, q.qv), 6) AS cos_sim
    FROM b, q
    WHERE b.bucket = q.qb
    ORDER BY cos_sim DESC, b.vec_id
    LIMIT 10
    """


@register("embedding_lsh_topk_md5", _lsh_md5_oracle_sql())
def q_embedding_lsh_md5(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.similarity import lsh_topk_literal, md5_plane_signs

    emb = load(spark, sf, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    # the oracle SQL freezes 64-dim planes at registration time — fail
    # loudly if a fixture ever ships a different dimension instead of
    # silently bucketing with mismatched plane matrices
    assert len(qvec) == 64, f"oracle planes are 64-dim, fixture has {len(qvec)}"
    planes = md5_plane_signs(4, 64)
    return lsh_topk_literal(emb, [float(x) for x in qvec], planes, k=10)


def _ann_recall_oracle_sql() -> str:
    """Compose the recall oracle from the already-registered per-method
    oracles: ground truth = exact top-10, each arm re-counts how many of an
    approximate method's ids appear in it.  Reusing the registered SQL
    verbatim means this gate can never drift from the per-method gates."""
    gt = """
        SELECT vec_id FROM (
            SELECT vec_id,
                   ROUND(list_cosine_similarity(embedding::DOUBLE[], q.qv), 6) AS cs
            FROM embeddings,
                 (SELECT embedding::DOUBLE[] AS qv FROM embeddings
                  WHERE vec_id = 0) q
            ORDER BY cs DESC, vec_id LIMIT 10
        )
    """
    methods = [
        ("ivf", "embedding_ivf_topk"),
        ("ivf_pq", "embedding_ivf_pq_topk"),
        ("lsh_md5", "embedding_lsh_topk_md5"),
        ("pq", "embedding_pq_topk"),
    ]
    arms = "\n        UNION ALL\n".join(
        f"SELECT '{m}' AS method,\n"
        f"  (SELECT CAST(COUNT(*) AS BIGINT) FROM ({ORACLE_SQL[key]}) s)"
        f" AS n_returned,\n"
        f"  (SELECT CAST(COUNT(*) AS BIGINT) FROM ({ORACLE_SQL[key]}) s"
        f" JOIN gt USING (vec_id)) AS n_hits"
        for m, key in methods
    )
    return (
        f"WITH gt AS ({gt})\n"
        f"SELECT method, n_returned, n_hits,\n"
        f"       ROUND(n_hits / 10.0, 4) AS recall\n"
        f"FROM ({arms})"
    )


@register("ann_recall_floor", _ann_recall_oracle_sql())
def q_ann_recall_floor(spark: SparkSession, sf: str) -> DataFrame:
    """Recall@10 of every approximate ANN operator against the exact
    top-10 (VERDICT r3 directive #4): the determinism gates prove each
    method reproduces its own definition; this one measures approximation
    QUALITY.  Same parameterization as the per-method gates (5 IVF cells /
    nprobe=2, 8x16 PQ codebooks from seed vectors, 4 md5 hyperplanes).
    Floors (ANN_RECALL_FLOORS, measured sf0.01: ivf 1.0, lsh_md5 0.4,
    pq 0.3, ivf_pq 0.3) are asserted in tests/test_similarity_recall.py —
    the gate itself hash-checks the measurement against an oracle composed
    verbatim from the per-method oracle SQL."""
    from .operators.similarity import (
        ivf_pq_topk,
        ivf_topk,
        lsh_topk_literal,
        md5_plane_signs,
        pq_adc_topk,
        pq_codebooks_from_seeds,
        recall_at_k,
        topk_cosine,
    )

    emb = load(spark, sf, "embeddings")
    seeds = emb.filter(F.col("vec_id") < 5).orderBy("vec_id").collect()
    cents = [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in seeds]
    qvec = cents[0][1]
    cbs = pq_codebooks_from_seeds(emb, m=8, ksub=16)
    planes = md5_plane_signs(4, 64)
    approx = {
        "ivf": ivf_topk(emb, qvec, cents, k=10, nprobe=2),
        "ivf_pq": ivf_pq_topk(emb, qvec, cents, cbs, k=10, nprobe=2),
        "lsh_md5": lsh_topk_literal(emb, qvec, planes, k=10),
        "pq": pq_adc_topk(emb, qvec, cbs, k=10),
    }
    return recall_at_k(approx, topk_cosine(emb, qvec, k=10), k=10)


# ---------------------------------------------------------------------------
# Summary merge (A6): cumulative summary datapoints -> replace-by-newest,
# ties -> earliest arrival (merger/value.go:770-779, datapoints.go:75).
# Summary datapoints synthesized deterministically from events columns.
# ---------------------------------------------------------------------------
@register(
    "agg_summary_merge",
    """
    WITH dp AS (
        SELECT user_id, event_id AS seq, ts,
               event_id % 100 AS "count", value AS "sum"
        FROM events
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY ts DESC, seq ASC) AS rk
        FROM dp
    )
    SELECT user_id,
           "count" AS latest_count,
           ROUND("sum", 4) AS latest_sum,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS latest_ts
    FROM ranked WHERE rk = 1
    """,
)
def q_agg_summary_merge(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.merge import merge_summary

    ev = load(spark, sf, "events")
    dp = ev.select(
        "user_id",
        F.col("event_id").alias("seq"),
        "ts",
        F.pmod("event_id", F.lit(100)).alias("count"),
        F.col("value").alias("sum"),
    )
    out = merge_summary(dp, ["user_id"])
    return out.select(
        "user_id",
        F.col("count").alias("latest_count"),
        F.round("sum", 4).alias("latest_sum"),
        _fmt_ts("ts").alias("latest_ts"),
    )


# ---------------------------------------------------------------------------
# Post-agg decoration (A9): metricset.interval attr + dataset interval
# suffix applied at harvest (elasticapmconnector/config.go:172-180).
# ---------------------------------------------------------------------------
@register(
    "agg_interval_decorated",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           CASE WHEN event_type = 'error' THEN 'logs.error'
                ELSE 'logs.' || event_type END AS sink,
           COUNT(*) AS docs,
           '60m' AS metricset_interval,
           (CASE WHEN event_type = 'error' THEN 'logs.error'
                 ELSE 'logs.' || event_type END) || '.60m' AS dataset
    FROM events GROUP BY 1, 2
    """,
)
def q_agg_interval_decorated(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.aggregate import decorate_interval, trunc_to_interval

    ev = load(spark, sf, "events")
    sink = F.when(F.col("event_type") == "error", F.lit("logs.error")).otherwise(
        F.concat(F.lit("logs."), F.col("event_type"))
    )
    agg = ev.groupBy(
        _fmt_ts(trunc_to_interval(F.col("ts"), "60m")).alias("window_start"),
        sink.alias("sink"),
    ).agg(F.count(F.lit(1)).alias("docs"))
    return decorate_interval(agg, "60m")


# ---------------------------------------------------------------------------
# Cumulative histogram merge (A3/A4 cumulative form): newest datapoint wins
# WHOLESALE (datapoints.go:65-79; golden testdata/histogram_cumulative).
# Histogram datapoints synthesized deterministically from events columns.
# ---------------------------------------------------------------------------
@register(
    "agg_histogram_cumulative",
    """
    WITH dp AS (
        SELECT user_id, event_id AS seq, ts,
               [event_id % 5, event_id % 7, event_id % 3] AS bucket_counts,
               event_id % 100 AS "count", value AS "sum"
        FROM events
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY ts DESC, seq ASC) AS rk
        FROM dp
    )
    SELECT user_id,
           array_to_string(list_transform(bucket_counts,
                                          x -> CAST(x AS VARCHAR)),
                           ',') AS bucket_counts,
           "count" AS latest_count,
           ROUND("sum", 4) AS latest_sum,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS latest_ts
    FROM ranked WHERE rk = 1
    """,
)
def q_agg_histogram_cumulative(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.merge import merge_cumulative_struct

    ev = load(spark, sf, "events")
    dp = ev.select(
        "user_id",
        F.col("event_id").alias("seq"),
        "ts",
        F.array(
            F.pmod("event_id", F.lit(5)),
            F.pmod("event_id", F.lit(7)),
            F.pmod("event_id", F.lit(3)),
        ).alias("bucket_counts"),
        F.pmod("event_id", F.lit(100)).alias("count"),
        F.col("value").alias("sum"),
    )
    out = merge_cumulative_struct(dp, ["user_id"], ["bucket_counts", "count", "sum"])
    # Arrays serialized to strings so the driver's pandas canonicalizer can
    # sort/hash the column (lists are unhashable in pandas.sort_values).
    return out.select(
        "user_id",
        F.array_join(
            F.transform("bucket_counts", lambda x: x.cast("string")), ","
        ).alias("bucket_counts"),
        F.col("count").alias("latest_count"),
        F.round("sum", 4).alias("latest_sum"),
        _fmt_ts("ts").alias("latest_ts"),
    )


# ---------------------------------------------------------------------------
# Transaction type/result/outcome inference cascades (E1, span.go:476-546)
# over semconv variant columns of the spans fixture.
# ---------------------------------------------------------------------------
@register(
    "apm_txn_semantics",
    """
    WITH spansx AS (
        SELECT id,
               'svc-' || (id % 5) AS service,
               CASE WHEN id % 11 = 0 THEN 'custom' END AS type_value,
               CASE WHEN id % 7 = 1 THEN 'kafka' END AS messaging_system,
               CASE WHEN id % 7 = 2 THEN 'grpc' END AS rpc_system,
               CASE WHEN id % 7 = 2 THEN
                    (CASE WHEN id % 2 = 0 THEN 'OK' ELSE '' END) END AS grpc_status,
               CASE WHEN id % 7 IN (3, 4) THEN
                    CAST(100 + (id * 13) % 520 AS INT) END AS http_status_code,
               CASE WHEN id % 5 = 0 THEN 'Error'
                    WHEN id % 5 = 1 THEN 'Ok' ELSE 'Unset' END AS span_status,
               CASE WHEN id % 10 < 7 THEN 'success'
                    WHEN id % 10 < 9 THEN 'failure'
                    ELSE 'unknown' END AS outcome
        FROM range(6000) t(id)
    ),
    derived AS (
        SELECT service,
               CASE WHEN type_value IS NOT NULL AND type_value <> '' THEN type_value
                    WHEN messaging_system IS NOT NULL THEN 'messaging'
                    WHEN rpc_system IS NOT NULL OR http_status_code IS NOT NULL THEN 'request'
                    ELSE 'unknown' END AS transaction_type,
               CASE WHEN rpc_system IS NOT NULL THEN
                         coalesce(nullif(grpc_status, ''),
                                  CASE WHEN span_status = 'Error' THEN 'Error' ELSE 'Success' END)
                    WHEN http_status_code IS NOT NULL AND http_status_code > 0 THEN
                         (CASE WHEN http_status_code // 100 BETWEEN 1 AND 5
                               THEN 'HTTP ' || (http_status_code // 100) || 'xx'
                               ELSE 'HTTP ' || http_status_code END)
                    ELSE CASE WHEN span_status = 'Error' THEN 'Error' ELSE 'Success' END
               END AS transaction_result,
               CASE WHEN outcome = 'unknown' THEN 'unknown'
                    WHEN span_status = 'Error' THEN 'failure'
                    WHEN span_status = 'Ok' THEN 'success'
                    WHEN http_status_code >= 500 THEN 'failure'
                    ELSE 'success' END AS span_outcome
        FROM spansx
    )
    SELECT service, transaction_type, transaction_result, span_outcome,
           COUNT(*) AS spans
    FROM derived GROUP BY 1, 2, 3, 4
    """,
)
def q_apm_txn_semantics(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.apm_metrics import enrich_transaction_semantics
    from .sources.spans import generate_spans

    sp = enrich_transaction_semantics(generate_spans(spark, 6000))
    return sp.groupBy(
        "service", "transaction_type", "transaction_result", "span_outcome"
    ).agg(F.count(F.lit(1)).alias("spans"))


# ---------------------------------------------------------------------------
# APM data-stream encoding (E3, data_stream.go:41-205): error datastream,
# metric internal/interval routing, app dataset with the EXACT
# normalizeServiceName character translation.
# ---------------------------------------------------------------------------
@register(
    "apm_data_stream_route",
    """
    WITH base AS (
        SELECT event_type,
               'Svc ' || (user_id % 7) || '.A' AS service,
               CASE WHEN user_id % 3 = 0 THEN 'service_summary'
                    WHEN user_id % 3 = 1 THEN 'transaction' END AS metricset_name,
               CASE WHEN event_id % 2 = 0 THEN '1m' END AS metricset_interval,
               event_type = 'click' AS has_txn_ctx,
               user_id % 5 <> 0 AS has_service,
               event_type = 'view' AS is_internal_name,
               event_id % 10 = 0 AS otel_remapped
        FROM events
    ),
    routed AS (
        SELECT CASE
            WHEN event_type = 'error' THEN 'apm.error'
            WHEN has_txn_ctx OR NOT has_service
                 OR coalesce(metricset_name, '') = 'service_summary' THEN
                 CASE WHEN metricset_interval IS NOT NULL AND metricset_interval <> ''
                      THEN 'apm.' || coalesce(nullif(metricset_name, ''), 'metrics')
                           || '.' || metricset_interval
                      ELSE 'apm.internal' END
            WHEN is_internal_name AND NOT otel_remapped THEN 'apm.internal'
            ELSE 'apm.app.' || translate(lower(service), '\\/*?"<>| ,#:.-',
                                         '______________')
        END AS dataset
        FROM base
    )
    SELECT dataset, COUNT(*) AS docs FROM routed GROUP BY 1
    """,
)
def q_apm_data_stream_route(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.route import apm_dataset, apm_error_dataset, apm_metric_dataset

    ev = load(spark, sf, "events")
    uid, eid = F.col("user_id"), F.col("event_id")
    svc = F.concat(F.lit("Svc "), F.pmod(uid, F.lit(7)), F.lit(".A"))
    mname = (
        F.when(F.pmod(uid, F.lit(3)) == 0, F.lit("service_summary"))
        .when(F.pmod(uid, F.lit(3)) == 1, F.lit("transaction"))
    )
    mivl = F.when(F.pmod(eid, F.lit(2)) == 0, F.lit("1m"))
    metric_ds = apm_metric_dataset(
        has_txn_span_context=F.col("event_type") == "click",
        has_service_name=F.pmod(uid, F.lit(5)) != 0,
        metricset_name=mname,
        metricset_interval=mivl,
        is_internal_metric_name=F.col("event_type") == "view",
        otel_remapped=F.pmod(eid, F.lit(10)) == 0,
    )
    dataset = F.when(F.col("event_type") == "error", apm_error_dataset()).otherwise(
        F.coalesce(metric_ds, apm_dataset(svc, svc_in_dataset=True))
    )
    return ev.select(dataset.alias("dataset")).groupBy("dataset").agg(
        F.count(F.lit(1)).alias("docs")
    )


# ---------------------------------------------------------------------------
# ECS host resolution (E6, ecs_translation.go:240-265) over deterministic
# metadata variants synthesized from events columns.
# ---------------------------------------------------------------------------
@register(
    "ecs_host_resolution",
    """
    WITH base AS (
        SELECT CASE WHEN user_id % 4 = 0 THEN '' ELSE 'svc' || (user_id % 7) END AS service_name,
               CASE WHEN event_id % 5 = 0 THEN 'hn-' || (event_id % 7) ELSE '' END AS host_name,
               CASE WHEN user_id % 2 = 0 THEN 'hh-' || (user_id % 11) ELSE '' END AS host_hostname,
               CASE WHEN event_id % 3 = 0 THEN 'node-' || (user_id % 5) ELSE '' END AS k8s_node_name,
               CASE WHEN event_id % 3 = 1 THEN 'pod-' || (event_id % 9) ELSE '' END AS k8s_pod_name,
               '' AS k8s_pod_uid,
               CASE WHEN user_id % 9 = 0 THEN 'ns' ELSE '' END AS k8s_namespace
        FROM events
    ),
    resolved AS (
        SELECT coalesce(nullif(service_name, ''), 'unknown') AS service_name,
               CASE WHEN nullif(k8s_node_name, '') IS NOT NULL THEN k8s_node_name
                    WHEN nullif(k8s_pod_name, '') IS NOT NULL
                         OR nullif(k8s_pod_uid, '') IS NOT NULL
                         OR nullif(k8s_namespace, '') IS NOT NULL THEN NULL
                    ELSE nullif(host_hostname, '') END AS host_hostname,
               nullif(host_name, '') AS host_name0
        FROM base
    )
    SELECT service_name,
           coalesce(host_name0, host_hostname) AS host_name,
           host_hostname,
           COUNT(*) AS docs
    FROM resolved GROUP BY 1, 2, 3
    """,
)
def q_ecs_host_resolution(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.enrich import ecs_resolve_host

    ev = load(spark, sf, "events")
    uid, eid = F.col("user_id"), F.col("event_id")
    base = ev.select(
        F.when(F.pmod(uid, F.lit(4)) == 0, F.lit("")).otherwise(
            F.concat(F.lit("svc"), F.pmod(uid, F.lit(7)))
        ).alias("service_name"),
        F.when(F.pmod(eid, F.lit(5)) == 0, F.concat(F.lit("hn-"), F.pmod(eid, F.lit(7)))).otherwise(F.lit("")).alias("host_name"),
        F.when(F.pmod(uid, F.lit(2)) == 0, F.concat(F.lit("hh-"), F.pmod(uid, F.lit(11)))).otherwise(F.lit("")).alias("host_hostname"),
        F.when(F.pmod(eid, F.lit(3)) == 0, F.concat(F.lit("node-"), F.pmod(uid, F.lit(5)))).otherwise(F.lit("")).alias("k8s_node_name"),
        F.when(F.pmod(eid, F.lit(3)) == 1, F.concat(F.lit("pod-"), F.pmod(eid, F.lit(9)))).otherwise(F.lit("")).alias("k8s_pod_name"),
        F.lit("").alias("k8s_pod_uid"),
        F.when(F.pmod(uid, F.lit(9)) == 0, F.lit("ns")).otherwise(F.lit("")).alias("k8s_namespace"),
    )
    out = ecs_resolve_host(base)
    return out.groupBy("service_name", "host_name", "host_hostname").agg(
        F.count(F.lit(1)).alias("docs")
    )


# ---------------------------------------------------------------------------
# Dropped-span-stats expansion (S2, traces.go:538-581): DSS entries become
# synthetic composite child spans that flow into the span_destination
# metrics weighted by the parent transaction's AdjustedCount.
# ---------------------------------------------------------------------------
@register(
    "apm_dropped_span_stats",
    f"""
    WITH {_SPANS_CTE},
    regular AS (
        SELECT (start_sec // 3600) * 3600 AS wsec, service, destination,
               CASE WHEN is_composite THEN composite_count * adj ELSE adj END AS cnt,
               CASE WHEN is_composite THEN dur_us * 3.0::DOUBLE * adj
                    ELSE dur_us * adj END AS sum_us
        FROM spans WHERE NOT is_root AND destination IS NOT NULL
    ),
    dss AS (
        SELECT (start_sec // 3600) * 3600 AS wsec, service,
               'dss-' || (id % 3) AS destination,
               (id % 4 + 1) * adj AS cnt,
               (id % 50) * 1000.0 * adj AS sum_us
        FROM spans WHERE is_root AND id % 6 = 0
        UNION ALL
        SELECT (start_sec // 3600) * 3600, service,
               'dss-' || (id % 5),
               (id % 3 + 1) * adj,
               (id % 30) * 500.0 * adj
        FROM spans WHERE is_root AND id % 6 = 0
    ),
    unioned AS (
        SELECT * FROM regular UNION ALL SELECT * FROM dss
    )
    SELECT strftime(make_timestamp(wsec * 1000000), '%Y-%m-%d %H:%M:%S') AS window_start,
           service, destination,
           ROUND(SUM(cnt), 6) AS "count",
           ROUND(SUM(sum_us), 4) AS sum_us
    FROM unioned GROUP BY 1, 2, 3
    """,
)
def q_apm_dropped_span_stats(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.apm_metrics import (
        enrich_spans,
        expand_dropped_span_stats,
        span_destination,
    )
    from .sources.spans import generate_spans

    spans = generate_spans(spark, 6000)
    full = spans.unionByName(expand_dropped_span_stats(spans))
    dest = span_destination(enrich_spans(full), "60m")
    return dest.select(
        _fmt_ts("window_start").alias("window_start"),
        "service", "destination", "count", "sum_us",
    )


# ---------------------------------------------------------------------------
# W3C tracestate T-value codec (S2, traces.go:908-931): probability ->
# trimmed 14-hex-digit threshold and back.
# ---------------------------------------------------------------------------
@register(
    "apm_tvalue_codec",
    """
    WITH p AS (
        SELECT (user_id % 100 + 1) / 100.0 AS prob FROM events
    ),
    enc AS (
        SELECT prob,
               CASE WHEN prob = 1.0 THEN '0'
                    ELSE coalesce(nullif(rtrim(lpad(lower(to_hex(
                             CAST(round((1.0 - prob) * 72057594037927936.0) AS BIGINT)
                         )), 14, '0'), '0'), ''), '0')
               END AS tvalue
        FROM p
    )
    SELECT tvalue,
           ROUND(1.0 - ('0x' || rpad(tvalue, 14, '0'))::BIGINT::DOUBLE
                 / 72057594037927936.0, 6) AS prob_back,
           COUNT(*) AS docs
    FROM enc GROUP BY 1, 2
    """,
)
def q_apm_tvalue_codec(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.apm_metrics import probability_to_tvalue, tvalue_to_probability

    ev = load(spark, sf, "events")
    p = ((F.pmod("user_id", F.lit(100)) + 1) / 100.0).alias("prob")
    enc = ev.select(probability_to_tvalue(p).alias("tvalue"))
    return enc.select(
        "tvalue",
        F.round(tvalue_to_probability(F.col("tvalue")), 6).alias("prob_back"),
    ).groupBy("tvalue", "prob_back").agg(F.count(F.lit(1)).alias("docs"))


# ---------------------------------------------------------------------------
# Composed training-data pipeline: exact dedup -> quality filter -> language
# stats — the "beyond the reference" ops as one coherent plan (dedup keeps
# the min-id copy; quality gate on token count + uniq-token ratio; per-lang
# doc/token totals).
# ---------------------------------------------------------------------------
@register(
    "training_pipeline",
    """
    WITH keepers AS (
        SELECT md5(substr(text, 1, 60)) AS fp, MIN(doc_id) AS doc_id
        FROM documents GROUP BY 1
    ),
    kept AS (
        SELECT d.doc_id, d.text FROM documents d JOIN keepers k USING (doc_id)
    ),
    feats AS (
        SELECT doc_id, text,
               len(string_split(lower(text), ' ')) AS n_tokens,
               ROUND(len(list_distinct(string_split(lower(text), ' ')))
                     / len(string_split(lower(text), ' ')), 4) AS uniq_ratio
        FROM kept
    ),
    filtered AS (
        SELECT * FROM feats WHERE n_tokens >= 20 AND uniq_ratio >= 0.4
    ),
    langed AS (
        SELECT n_tokens,
               CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
                    WHEN greatest(c_en,c_de,c_fr,c_es) = 0 THEN 'und'
                    WHEN c_en = greatest(c_en,c_de,c_fr,c_es) THEN 'en'
                    WHEN c_de = greatest(c_en,c_de,c_fr,c_es) THEN 'de'
                    WHEN c_fr = greatest(c_en,c_de,c_fr,c_es) THEN 'fr'
                    ELSE 'es' END AS lang_pred
        FROM (
            SELECT n_tokens, text,
                   len(list_filter(toks, x -> x IN ('the','a','and','of','to'))) AS c_en,
                   len(list_filter(toks, x -> x IN ('der','die','und','das','ein'))) AS c_de,
                   len(list_filter(toks, x -> x IN ('le','la','et','les','un'))) AS c_fr,
                   len(list_filter(toks, x -> x IN ('el','los','y','las','una'))) AS c_es
            FROM (SELECT n_tokens, text, string_split(lower(text), ' ') AS toks FROM filtered)
        )
    )
    SELECT lang_pred, COUNT(*) AS docs, CAST(SUM(n_tokens) AS BIGINT) AS tokens
    FROM langed GROUP BY 1
    """,
)
def q_training_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    from .functions.textstats import lang_id, quality_features

    docs = load(spark, sf, "documents")
    keepers = docs.groupBy(F.md5(F.substring("text", 1, 60)).alias("fp")).agg(
        F.min("doc_id").alias("doc_id")
    )
    kept = docs.join(F.broadcast(keepers.select("doc_id")), "doc_id")
    feats = quality_features(F.col("text"))
    scored = kept.select(
        "text",
        feats["n_tokens"].alias("n_tokens"),
        feats["uniq_token_ratio"].alias("uniq_ratio"),
    )
    filtered = scored.filter((F.col("n_tokens") >= 20) & (F.col("uniq_ratio") >= 0.4))
    return filtered.select(
        lang_id(F.col("text")).alias("lang_pred"), "n_tokens"
    ).groupBy("lang_pred").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_tokens").alias("tokens"),
    )


# ---------------------------------------------------------------------------
# Entity-analytics incremental sync (S6, entityanalyticsreceiver): delta
# between two deterministic entity snapshots — added/modified/deleted,
# unchanged omitted.
# ---------------------------------------------------------------------------
@register(
    "entity_incremental_sync",
    """
    WITH prev AS (
        SELECT user_id, ROUND(SUM(value), 4) AS score, COUNT(*) AS events
        FROM events WHERE event_id % 2 = 0 GROUP BY 1
    ),
    curr AS (
        SELECT user_id, ROUND(SUM(value), 4) AS score, COUNT(*) AS events
        FROM events GROUP BY 1
    ),
    j AS (
        SELECT coalesce(c.user_id, p.user_id) AS user_id,
               CASE WHEN c.user_id IS NOT NULL THEN c.score ELSE p.score END AS score,
               CASE WHEN c.user_id IS NOT NULL THEN c.events ELSE p.events END AS events,
               CASE WHEN p.user_id IS NULL THEN 'added'
                    WHEN c.user_id IS NULL THEN 'deleted'
                    WHEN p.score IS DISTINCT FROM c.score
                         OR p.events IS DISTINCT FROM c.events THEN 'modified'
               END AS action
        FROM prev p FULL OUTER JOIN curr c ON p.user_id = c.user_id
    )
    SELECT user_id, score, events, action FROM j WHERE action IS NOT NULL
    """,
)
def q_entity_incremental_sync(spark: SparkSession, sf: str) -> DataFrame:
    from .sources.dims import dim_sync_changes

    ev = load(spark, sf, "events")
    prev = ev.filter(F.pmod("event_id", F.lit(2)) == 0).groupBy("user_id").agg(
        F.round(F.sum("value"), 4).alias("score"), F.count(F.lit(1)).alias("events")
    )
    curr = ev.groupBy("user_id").agg(
        F.round(F.sum("value"), 4).alias("score"), F.count(F.lit(1)).alias("events")
    )
    return dim_sync_changes(prev, curr, "user_id", ["score", "events"])


# ---------------------------------------------------------------------------
# Mapping-mode enricher dispatch (E2, processor.go:68-108): ecs-mode batches
# split apm/otel by telemetry.sdk.name; everything else gets the default
# enricher (or passes through under skip_enrichment).
# ---------------------------------------------------------------------------
@register(
    "enricher_dispatch",
    """
    WITH base AS (
        SELECT CASE WHEN user_id % 3 = 0 THEN 'ecs'
                    WHEN user_id % 3 = 1 THEN 'otel' END AS mapping_mode,
               CASE WHEN event_id % 2 = 0 THEN 'ElasticAPM'
                    WHEN event_id % 5 = 0 THEN NULL
                    ELSE 'opentelemetry' END AS sdk_name
        FROM events
    )
    SELECT CASE WHEN mapping_mode = 'ecs' THEN
                (CASE WHEN sdk_name = 'ElasticAPM' THEN 'apm' ELSE 'otel' END)
                ELSE 'default' END AS enricher,
           COUNT(*) AS docs
    FROM base GROUP BY 1
    """,
)
def q_enricher_dispatch(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.enrich import select_enricher

    ev = load(spark, sf, "events")
    uid, eid = F.col("user_id"), F.col("event_id")
    mode = (
        F.when(F.pmod(uid, F.lit(3)) == 0, F.lit("ecs"))
        .when(F.pmod(uid, F.lit(3)) == 1, F.lit("otel"))
    )
    sdk = (
        F.when(F.pmod(eid, F.lit(2)) == 0, F.lit("ElasticAPM"))
        .when(F.pmod(eid, F.lit(5)) == 0, F.lit(None).cast("string"))
        .otherwise(F.lit("opentelemetry"))
    )
    return ev.select(select_enricher(mode, sdk).alias("enricher")).groupBy(
        "enricher"
    ).agg(F.count(F.lit(1)).alias("docs"))


# ---------------------------------------------------------------------------
# Metadata -> map-body attach (E4, elasticmetadataprocessor/processor.go:
# 54-90): configured client-metadata keys copied into map bodies under
# mapped names; scalar bodies untouched. Output serialized as the sorted
# k=v entry string so the oracle compares exact map contents.
# ---------------------------------------------------------------------------
@register(
    "metadata_body_attach",
    """
    WITH base AS (
        SELECT event_id, event_type, user_id,
               event_id % 7 <> 0 AS has_map_body
        FROM events
    )
    SELECT CASE WHEN has_map_body THEN
               'kind=' || event_type ||
               ',mapping_mode=' || (CASE WHEN user_id % 3 = 0 THEN 'ecs' ELSE 'otel' END) ||
               ',tenant_id=t' || (user_id % 5)
           END AS body_str,
           COUNT(*) AS docs
    FROM base GROUP BY 1
    """,
)
def q_metadata_body_attach(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.enrich import attach_metadata_to_body

    ev = load(spark, sf, "events")
    uid, eid = F.col("user_id"), F.col("event_id")
    body = F.when(
        F.pmod(eid, F.lit(7)) != 0,
        F.create_map(
            F.lit("kind"), F.col("event_type"),
            # pre-existing tenant_id that the metadata copy must overwrite
            F.lit("tenant_id"), F.lit("stale"),
        ),
    )
    meta = F.create_map(
        F.lit("tenant"), F.concat(F.lit("t"), F.pmod(uid, F.lit(5))),
        F.lit("mode"), F.when(F.pmod(uid, F.lit(3)) == 0, F.lit("ecs")).otherwise(F.lit("otel")),
    )
    df = ev.select(body.alias("body"), meta.alias("metadata"))
    out = attach_metadata_to_body(df, {"tenant": "tenant_id", "mode": "mapping_mode"})
    body_str = F.concat_ws(
        ",",
        F.transform(
            F.array_sort(F.map_entries(F.col("body"))),
            lambda e: F.concat(e["key"], F.lit("="), e["value"]),
        ),
    )
    return out.select(
        F.when(F.col("body").isNull(), F.lit(None).cast("string"))
        .otherwise(body_str).alias("body_str")
    ).groupBy("body_str").agg(F.count(F.lit(1)).alias("docs"))


# ---------------------------------------------------------------------------
# Near-dup REMOVAL (survivor selection) from MinHash-LSH pairs: every doc
# with a lower-id near-duplicate is dropped (anti-join; min id per linked
# pair survives).
# ---------------------------------------------------------------------------
@register(
    "dedup_minhash_survivors",
    f"""
    WITH {_SHINGLES_CTE},
    hashed AS (
        SELECT doc_id, seeds.seed,
               ('0x' || substr(md5(shingle || ':' || seeds.seed), 1, 15))::BIGINT AS h
        FROM ex CROSS JOIN (SELECT unnest(range(32)) AS seed) seeds
    ),
    mins AS (SELECT doc_id, seed, MIN(h) AS mh FROM hashed GROUP BY 1, 2),
    bands AS (
        SELECT doc_id, seed // 4 AS band,
               md5(string_agg(mh::VARCHAR, ',' ORDER BY seed)) AS bh
        FROM mins GROUP BY doc_id, seed // 4
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY 1),
    commons AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT c.id_a, c.id_b
        FROM cand c
        JOIN commons co ON co.id_a = c.id_a AND co.id_b = c.id_b
        JOIN sizes sa ON sa.doc_id = c.id_a
        JOIN sizes sb ON sb.doc_id = c.id_b
        WHERE ROUND(n_common / (sa.n + sb.n - n_common), 4) >= 0.2
    ),
    removed AS (SELECT DISTINCT id_b AS doc_id FROM pairs)
    SELECT d.lang, COUNT(*) AS surviving_docs,
           CAST(SUM(d.n_chars) AS BIGINT) AS surviving_chars
    FROM documents d LEFT JOIN removed r ON d.doc_id = r.doc_id
    WHERE r.doc_id IS NULL
    GROUP BY 1
    """,
)
def q_dedup_minhash_survivors(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.dedup import minhash_lsh_pairs, near_dedup_survivors

    docs = load_docs_spread(spark, sf)
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.2, engine="md5")
    survivors = near_dedup_survivors(pairs, docs)
    return survivors.groupBy("lang").agg(
        F.count(F.lit(1)).alias("surviving_docs"),
        F.sum("n_chars").alias("surviving_chars"),
    )


# ---------------------------------------------------------------------------
# Prometheus remote-write translate (S5, prometheusremotewritev1receiver/
# receiver.go:174-221): __name__ -> gauge name, other labels -> dp
# attributes, one dp per sample; series without __name__ dropped.
# ---------------------------------------------------------------------------
@register(
    "prw_translate",
    """
    WITH series AS (
        SELECT CASE WHEN user_id % 11 = 0 THEN NULL
                    ELSE 'metric_' || (user_id % 4) END AS mname,
               'job_' || (user_id % 3) AS job,
               'inst_' || (event_id % 5) AS instance,
               event_id, value
        FROM events
    ),
    dps AS (
        -- 2 samples per series: (value, t0) and (value*2, t0+1000ms)
        SELECT mname, job, instance, value AS v,
               1767225600000 + (event_id % 60000) AS ts_ms
        FROM series WHERE mname IS NOT NULL
        UNION ALL
        SELECT mname, job, instance, value * 2,
               1767225600000 + (event_id % 60000) + 1000
        FROM series WHERE mname IS NOT NULL
    )
    SELECT mname AS metric_name, job, instance,
           COUNT(*) AS dps,
           ROUND(SUM(v), 4) AS value_sum,
           strftime(MAX(make_timestamp(ts_ms * 1000)), '%Y-%m-%d %H:%M:%S') AS max_ts
    FROM dps GROUP BY 1, 2, 3
    """,
)
def q_prw_translate(spark: SparkSession, sf: str) -> DataFrame:
    from .sources.decoders import prw_translate

    ev = load(spark, sf, "events")
    uid, eid = F.col("user_id"), F.col("event_id")
    labels = F.map_filter(
        F.create_map(
            F.lit("__name__"),
            F.when(F.pmod(uid, F.lit(11)) == 0, F.lit(None).cast("string"))
            .otherwise(F.concat(F.lit("metric_"), F.pmod(uid, F.lit(4)))),
            F.lit("job"), F.concat(F.lit("job_"), F.pmod(uid, F.lit(3))),
            F.lit("instance"), F.concat(F.lit("inst_"), F.pmod(eid, F.lit(5))),
        ),
        lambda _, v: v.isNotNull(),
    )
    t0 = F.lit(1767225600000) + F.pmod(eid, F.lit(60000))
    samples = F.array(
        F.struct(F.col("value").alias("value"), t0.cast("long").alias("ts_ms")),
        F.struct((F.col("value") * 2).alias("value"), (t0 + 1000).cast("long").alias("ts_ms")),
    )
    series = ev.select(labels.alias("labels"), samples.alias("samples"))
    out = prw_translate(series)
    return out.select(
        "metric_name",
        F.element_at("attributes", F.lit("job")).alias("job"),
        F.element_at("attributes", F.lit("instance")).alias("instance"),
        "ts", "value",
    ).groupBy("metric_name", "job", "instance").agg(
        F.count(F.lit(1)).alias("dps"),
        F.round(F.sum("value"), 4).alias("value_sum"),
        _fmt_ts(F.max("ts")).alias("max_ts"),
    )


# ---------------------------------------------------------------------------
# Per-event-type intake payload decode (S1/S2 full form): derived-field
# parity with ndjsondecoder/traces.go + logs.go + metrics.go and
# mappers/intakeV2ToDerivedFields.go, over a deterministic NDJSON fixture
# whose every field is modular arithmetic in the row id (so DuckDB recomputes
# the decoded output exactly, without JSON).
# ---------------------------------------------------------------------------
_INTAKE_N = 6000


def _intake_decoded(spark):
    from .sources.decoders import decode_ndjson_intake
    from .sources.intake import generate_intake_ndjson

    return decode_ndjson_intake(generate_intake_ndjson(spark, _INTAKE_N))


@register(
    "intake_txn_decode",
    f"""
    WITH t AS (SELECT range AS i FROM range({_INTAKE_N}) WHERE range % 5 = 0)
    SELECT 'tx' || i AS transaction_id,
           'tr' || (i % 97) AS trace_id,
           1700000000000000 + i AS timestamp_us,
           (i % 5000) * 500 AS transaction_duration_us,
           'op-' || (i % 8) AS transaction_name,
           CASE WHEN i % 11 IN (0, 1) THEN 'unknown' ELSE 'request' END
               AS transaction_type,
           CASE WHEN i % 4 = 0 THEN 'HTTP 2xx' END AS transaction_result,
           i % 7 <> 0 AS transaction_sampled,
           CASE i % 3 WHEN 0 THEN 'success' WHEN 1 THEN 'failure'
                      ELSE 'unknown' END AS event_outcome,
           CASE WHEN i % 9 < 4 THEN 'db' END AS service_target_type,
           CASE WHEN i % 9 < 4 THEN 'tgt' || (i % 5) END AS service_target_name,
           i % 20 AS span_count_started,
           CASE WHEN i % 6 = 0 THEN i % 3 END AS span_count_dropped,
           CASE WHEN i % 2 = 0 THEN 200 + (i % 300) END
               AS http_response_status_code
    FROM t
    """,
)
def q_intake_txn_decode(spark: SparkSession, sf: str) -> DataFrame:
    from .sources.intake import decode_transactions

    return decode_transactions(_intake_decoded(spark)).select(
        "transaction_id", "trace_id", "timestamp_us", "transaction_duration_us",
        "transaction_name", "transaction_type", "transaction_result",
        "transaction_sampled", "event_outcome", "service_target_type",
        "service_target_name", "span_count_started", "span_count_dropped",
        "http_response_status_code",
    )


@register(
    "intake_span_decode",
    f"""
    WITH s AS (SELECT range AS i FROM range({_INTAKE_N}) WHERE range % 5 = 1)
    SELECT 'sp' || i AS span_id,
           'tx' || (i - 1) AS transaction_id,
           1700000000000000 + i AS timestamp_us,
           (i % 1000) * 500 AS span_duration_us,
           'q-' || (i % 6) AS span_name,
           CASE i % 3 WHEN 0 THEN 'db' WHEN 1 THEN 'external'
                      ELSE 'cache' END AS span_type,
           CASE i % 3 WHEN 0 THEN 'mysql' WHEN 1 THEN 'http' END AS span_subtype,
           CASE WHEN i % 3 = 0 THEN 'query' END AS span_action,
           CASE i % 2 WHEN 0 THEN 'success' ELSE 'failure' END AS event_outcome,
           CASE WHEN i % 10 = 6 THEN 'tt'
                WHEN i % 4 = 0 THEN 'mysql'
                WHEN i % 4 = 1 THEN 'postgresql'
                WHEN i % 4 = 2 THEN '' END AS service_target_type,
           CASE WHEN i % 10 = 6 THEN 'nn'
                WHEN i % 4 = 0 THEN 'users'
                WHEN i % 4 = 1 THEN ''
                WHEN i % 4 = 2 THEN 'no match!' END AS service_target_name,
           CASE WHEN i % 4 = 0 THEN 'mysql/users'
                WHEN i % 4 = 1 THEN 'postgresql'
                WHEN i % 4 = 2 THEN 'no match!' END
               AS destination_service_resource,
           CASE WHEN i % 6 = 0 THEN 204 WHEN i % 6 = 1 THEN 500 END
               AS http_response_status_code,
           CASE WHEN i % 8 = 0 THEN i % 5 + 2 END AS composite_count,
           CASE WHEN i % 8 = 0 THEN (i % 300) * 500 END AS composite_sum_us
    FROM s
    """,
)
def q_intake_span_decode(spark: SparkSession, sf: str) -> DataFrame:
    from .sources.intake import decode_spans

    return decode_spans(_intake_decoded(spark)).select(
        "span_id", "transaction_id", "timestamp_us", "span_duration_us",
        "span_name", "span_type", "span_subtype", "span_action",
        "event_outcome", "service_target_type", "service_target_name",
        "destination_service_resource", "http_response_status_code",
        "composite_count", "composite_sum_us",
    )


@register(
    "intake_error_decode",
    f"""
    WITH e AS (SELECT range AS i FROM range({_INTAKE_N}) WHERE range % 5 = 2)
    SELECT 'er' || i AS error_id,
           'tr' || (i % 97) AS trace_id,
           CASE WHEN i % 3 = 0 THEN 'pp' || i END AS parent_id,
           1700000000000000 + i AS timestamp_us,
           CASE WHEN i % 4 = 0 THEN 'mod.fn' || (i % 7) END AS error_culprit,
           'op-' || (i % 8) AS transaction_name,
           i % 2 = 0 AS transaction_sampled,
           'log message ' || (i % 13) AS error_log_message,
           CASE WHEN i % 3 = 0 THEN 'warning' ELSE 'error' END AS error_log_level,
           CASE WHEN i % 2 = 0 THEN
                CASE WHEN i % 4 = 0 THEN 2 ELSE 1 END END AS n_exceptions,
           CASE WHEN i % 2 = 0 THEN 'E' || (i % 4) END AS first_exception_type
    FROM e
    """,
)
def q_intake_error_decode(spark: SparkSession, sf: str) -> DataFrame:
    from .sources.intake import decode_errors

    # grouping_key is XXH64-derived (no SQL oracle) — pinned instead against
    # the reference's own errors_expected.yaml in tests/test_intake.py
    return decode_errors(_intake_decoded(spark)).select(
        "error_id", "trace_id", "parent_id", "timestamp_us", "error_culprit",
        "transaction_name", "transaction_sampled", "error_log_message",
        "error_log_level",
        F.json_array_length("error_exception_json").alias("n_exceptions"),
        F.get_json_object("error_exception_json", "$[0].type").alias(
            "first_exception_type"
        ),
    )


@register(
    "intake_metricset_decode",
    f"""
    WITH m AS (SELECT range AS i FROM range({_INTAKE_N}) WHERE range % 5 = 3)
    SELECT 'gauge.' || (i % 4) AS metric_name,
           (i % 1000) / 10.0 AS value,
           CAST(NULL AS VARCHAR) AS hist_values,
           CAST(NULL AS VARCHAR) AS hist_counts,
           CAST(NULL AS VARCHAR) AS metric_type,
           'op-' || (i % 8) AS transaction_name,
           1700000000000000 + i AS timestamp_us,
           CAST(200 + i % 3 AS VARCHAR) AS tag_code
    FROM m
    UNION ALL
    SELECT 'latency_hist',
           CAST(NULL AS DOUBLE),
           CAST(CAST(i % 5 AS DOUBLE) AS VARCHAR) || ',2.0',
           CAST(i % 7 AS VARCHAR) || ',3',
           'histogram',
           'op-' || (i % 8),
           1700000000000000 + i,
           CAST(200 + i % 3 AS VARCHAR)
    FROM m WHERE i % 2 = 1
    """,
)
def q_intake_metricset_decode(spark: SparkSession, sf: str) -> DataFrame:
    from .sources.intake import decode_metricsets

    ms = decode_metricsets(_intake_decoded(spark))
    ser = lambda c: F.array_join(F.transform(c, lambda x: x.cast("string")), ",")  # noqa: E731
    return ms.select(
        "metric_name", "value",
        ser("histogram_values").alias("hist_values"),
        ser("histogram_counts").alias("hist_counts"),
        "metric_type", "transaction_name", "timestamp_us",
        F.element_at("tags", F.lit("code")).alias("tag_code"),
    )


@register(
    "intake_log_decode",
    f"""
    WITH l AS (SELECT range AS i FROM range({_INTAKE_N}) WHERE range % 5 = 4)
    SELECT 1700000000000000 + i AS timestamp_us,
           'hello ' || (i % 17) AS message,
           CASE i % 3 WHEN 0 THEN 'info' WHEN 1 THEN 'warn'
                      ELSE 'error' END AS log_level,
           'lg' || (i % 6) AS logger_name,
           'tr' || (i % 97) AS trace_id,
           CASE i % 2 WHEN 0 THEN 'prod' ELSE 'dev' END AS label_env
    FROM l
    """,
)
def q_intake_log_decode(spark: SparkSession, sf: str) -> DataFrame:
    from .sources.intake import decode_logs

    return decode_logs(_intake_decoded(spark)).select(
        "timestamp_us", "message", "log_level", "logger_name", "trace_id",
        F.element_at("labels", F.lit("env")).alias("label_env"),
    )


# ---------------------------------------------------------------------------
# Hierarchical cardinality limits (A7 full): chained resource->scope->metric
# ->datapoint first-N trackers with overflow buckets and harvest metrics
# (lsmintervalprocessor internal/merger/limits/tracker.go:40-166,
# value.go:308-366).  The oracle replicates the chained ranks with SQL
# windows over the same identity tables.
# ---------------------------------------------------------------------------
@register(
    "agg_overflow_hierarchical",
    """
    WITH base AS (
        SELECT event_id AS seq,
               'r' || (user_id % 7) AS res,
               'sc' || (event_id % 5) AS scope,
               'm' || (event_id % 11) AS metric,
               'dp' || (event_id % 13) AS dp
        FROM events
    ),
    r_rank AS (
        SELECT res,
               ROW_NUMBER() OVER (ORDER BY MIN(seq), res) <= 4 AS kept
        FROM base GROUP BY res
    ),
    b1 AS (
        SELECT b.*, CASE WHEN r.kept THEN b.res ELSE '_overflow' END AS res_eff
        FROM base b JOIN r_rank r USING (res)
    ),
    s_rank AS (
        SELECT res_eff, scope,
               ROW_NUMBER() OVER (PARTITION BY res_eff
                                  ORDER BY MIN(seq), scope) <= 3 AS kept
        FROM b1 GROUP BY res_eff, scope
    ),
    b2 AS (
        SELECT b1.*, CASE WHEN s.kept THEN b1.scope ELSE '_overflow' END AS scope_eff
        FROM b1 JOIN s_rank s USING (res_eff, scope)
    ),
    m_rank AS (
        SELECT res_eff, scope_eff, metric,
               ROW_NUMBER() OVER (PARTITION BY res_eff, scope_eff
                                  ORDER BY MIN(seq), metric) <= 6 AS kept
        FROM b2 GROUP BY res_eff, scope_eff, metric
    ),
    b3 AS (
        SELECT b2.*, NOT m.kept AS m_over
        FROM b2 JOIN m_rank m USING (res_eff, scope_eff, metric)
    ),
    d_rank AS (
        SELECT res_eff, scope_eff, metric, dp,
               ROW_NUMBER() OVER (PARTITION BY res_eff, scope_eff, metric
                                  ORDER BY MIN(seq), dp) <= 8 AS kept
        FROM b3 WHERE NOT m_over GROUP BY res_eff, scope_eff, metric, dp
    ),
    b4 AS (
        SELECT b3.*,
               CASE WHEN m_over THEN FALSE
                    ELSE NOT coalesce(d.kept, TRUE) END AS dp_over
        FROM b3 LEFT JOIN d_rank d USING (res_eff, scope_eff, metric, dp)
    )
    SELECT res_eff, scope_eff, '_overflow_metric' AS metric_name,
           CAST(NULL AS VARCHAR) AS for_metric,
           CAST(COUNT(DISTINCT metric) AS BIGINT) AS value
    FROM b4 WHERE m_over GROUP BY 1, 2
    UNION ALL
    SELECT res_eff, scope_eff, '_overflow_datapoints', metric,
           CAST(COUNT(DISTINCT dp) AS BIGINT)
    FROM b4 WHERE dp_over GROUP BY 1, 2, 4
    """,
)
def q_agg_overflow_hierarchical(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.limits import harvest_overflow_metrics, hierarchical_overflow_limits

    ev = load(spark, sf, "events").select(
        F.col("event_id").alias("seq"),
        F.concat(F.lit("r"), F.pmod("user_id", F.lit(7))).alias("resource_id"),
        F.concat(F.lit("sc"), F.pmod("event_id", F.lit(5))).alias("scope_id"),
        F.concat(F.lit("m"), F.pmod("event_id", F.lit(11))).alias("metric_name"),
        F.concat(F.lit("dp"), F.pmod("event_id", F.lit(13))).alias("dp_id"),
    )
    ann = hierarchical_overflow_limits(
        ev, res_limit=4, scope_limit=3, metric_limit=6, dp_limit=8
    )
    return harvest_overflow_metrics(ann)


# ---------------------------------------------------------------------------
# ECS translation tables (E6 full): preserved-key classes vs labels.* /
# numeric_labels.* moves with key sanitization + value truncation
# (elasticapmprocessor internal/ecs/ecs_translation.go:309-420,455-552) and
# host.ip-from-client-address derivation (client_address.go:29-45).
# ---------------------------------------------------------------------------
@register(
    "ecs_label_remap",
    """
    WITH base AS (
        SELECT event_id, user_id,
               CASE event_id % 6
                   WHEN 0 THEN 'http.request.method'
                   WHEN 1 THEN 'event.outcome'
                   WHEN 2 THEN 'custom.metric*name'
                   WHEN 3 THEN 'weird"key.x'
                   WHEN 4 THEN 'db.system'
                   ELSE 'unsupported.attr' END AS in_key,
               'v' || (user_id % 9) AS str_val,
               CASE event_id % 2 WHEN 0 THEN 'retry.count'
                                 ELSE 'server.port' END AS num_key,
               CAST(event_id % 50 AS DOUBLE) AS num_val
        FROM events
    ),
    mapped AS (
        SELECT CASE event_id % 6
                   WHEN 2 THEN 'labels.custom_metric_name'
                   WHEN 3 THEN 'labels.weird_key_x'
                   WHEN 5 THEN 'labels.unsupported_attr'
                   ELSE in_key END AS out_key,
               str_val,
               CASE event_id % 2 WHEN 0 THEN 'numeric_labels.retry_count'
                                 ELSE 'server.port' END AS out_num_key,
               num_val
        FROM base
    )
    SELECT out_key, COUNT(*) AS n, MIN(str_val) AS min_val, MAX(str_val) AS max_val,
           CAST(NULL AS VARCHAR) AS num_out_key, CAST(NULL AS DOUBLE) AS num_sum
    FROM mapped GROUP BY 1
    UNION ALL
    SELECT CAST(NULL AS VARCHAR), COUNT(*), CAST(NULL AS VARCHAR),
           CAST(NULL AS VARCHAR), out_num_key, ROUND(SUM(num_val), 4)
    FROM mapped GROUP BY out_num_key
    """,
)
def q_ecs_label_remap(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.ecs import remap_span_attrs_to_ecs

    ev = load(spark, sf, "events")
    eid, uid = F.col("event_id"), F.col("user_id")
    in_key = (
        F.when(F.pmod(eid, F.lit(6)) == 0, F.lit("http.request.method"))
        .when(F.pmod(eid, F.lit(6)) == 1, F.lit("event.outcome"))
        .when(F.pmod(eid, F.lit(6)) == 2, F.lit("custom.metric*name"))
        .when(F.pmod(eid, F.lit(6)) == 3, F.lit('weird"key.x'))
        .when(F.pmod(eid, F.lit(6)) == 4, F.lit("db.system"))
        .otherwise(F.lit("unsupported.attr"))
    )
    num_key = F.when(F.pmod(eid, F.lit(2)) == 0, F.lit("retry.count")).otherwise(
        F.lit("server.port")
    )
    df = ev.select(
        F.create_map(in_key, F.concat(F.lit("v"), F.pmod(uid, F.lit(9)))).alias(
            "attributes"
        ),
        F.create_map(num_key, F.pmod(eid, F.lit(50)).cast("double")).alias("nattrs"),
    )
    out = remap_span_attrs_to_ecs(df, numeric_attrs_col="nattrs")
    strs = (
        out.select(F.explode("attributes").alias("out_key", "str_val"))
        .groupBy("out_key")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("str_val").alias("min_val"),
            F.max("str_val").alias("max_val"),
        )
        .select(
            "out_key", "n", "min_val", "max_val",
            F.lit(None).cast("string").alias("num_out_key"),
            F.lit(None).cast("double").alias("num_sum"),
        )
    )
    nums = (
        out.select(F.explode("nattrs").alias("num_out_key", "num_val"))
        .groupBy("num_out_key")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("num_val"), 4).alias("num_sum"))
        .select(
            F.lit(None).cast("string").alias("out_key"), "n",
            F.lit(None).cast("string").alias("min_val"),
            F.lit(None).cast("string").alias("max_val"),
            "num_out_key", "num_sum",
        )
    )
    return strs.unionByName(nums)


@register(
    "ecs_host_ip",
    """
    WITH base AS (
        SELECT CASE WHEN user_id % 4 = 0 THEN ''
                    ELSE '10.0.0.' || (user_id % 5) END AS client_addr,
               CASE event_id % 3
                   WHEN 0 THEN ''            -- empty host.ip -> overwrite
                   WHEN 1 THEN NULL          -- absent -> set
                   ELSE '9.9.9.' || (event_id % 7) END AS existing_ip
        FROM events
    )
    SELECT CASE WHEN existing_ip IS NOT NULL AND existing_ip <> '' THEN existing_ip
                WHEN client_addr <> '' THEN client_addr
                WHEN existing_ip IS NULL THEN NULL
                ELSE '' END AS host_ip,
           COUNT(*) AS n
    FROM base GROUP BY 1
    """,
)
def q_ecs_host_ip(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.ecs import set_host_ip

    ev = load(spark, sf, "events")
    eid, uid = F.col("event_id"), F.col("user_id")
    client = F.when(F.pmod(uid, F.lit(4)) == 0, F.lit("")).otherwise(
        F.concat(F.lit("10.0.0."), F.pmod(uid, F.lit(5)))
    )
    existing = (
        F.when(F.pmod(eid, F.lit(3)) == 0, F.lit(""))
        .when(F.pmod(eid, F.lit(3)) == 2, F.concat(F.lit("9.9.9."), F.pmod(eid, F.lit(7))))
    )
    df = ev.select(
        client.alias("ca"),
        F.when(
            existing.isNotNull(), F.create_map(F.lit("host.ip"), existing)
        ).otherwise(F.create_map(F.lit("other"), F.lit("x"))).alias(
            "resource_attributes"
        ),
    )
    out = set_host_ip(df, "ca")
    return out.select(
        F.element_at("resource_attributes", F.lit("host.ip")).alias("host_ip")
    ).groupBy("host_ip").agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# Semconv span-attribute capture variants (E1 full, enrichments/span.go:
# 152-295): each event carries one variant class; the oracle recomputes the
# captured context directly from the class id.
# ---------------------------------------------------------------------------
@register(
    "semconv_span_capture",
    """
    WITH base AS (SELECT event_id AS i, user_id AS u FROM events),
    cap AS (
        SELECT CASE i % 12
                   WHEN 0 THEN 'sa' || (u % 5)
                   WHEN 1 THEN 'npn' || (u % 5)
                   WHEN 2 THEN 'ph' || (u % 5)
                   WHEN 11 THEN 'sa' || (u % 5)  -- both present: guard wins
               END AS server_address,
               CASE WHEN i % 12 = 4 THEN
                   CASE WHEN u % 20 <= 16 THEN
                       ['OK','Canceled','Unknown','InvalidArgument',
                        'DeadlineExceeded','NotFound','AlreadyExists',
                        'PermissionDenied','ResourceExhausted',
                        'FailedPrecondition','Aborted','OutOfRange',
                        'Unimplemented','Internal','Unavailable','DataLoss',
                        'Unauthenticated'][(u % 20) + 1]
                   ELSE 'Code(' || (u % 20) || ')' END
               END AS grpc_status,
               CASE i % 12 WHEN 6 THEN 'mysql' WHEN 7 THEN 'sql' END AS db_system,
               CASE WHEN i % 12 = 5 THEN 'q' || (u % 3) END
                   AS messaging_destination_name,
               CASE WHEN i % 12 = 8 THEN 'ua-new' END AS user_agent_original,
               CASE WHEN i % 12 = 9 THEN 'g' || (u % 3) END AS gen_ai_system,
               CASE WHEN i % 12 = 3 THEN 'http://h/p' || (u % 4) END AS url_full,
               i % 12 = 10 AS messaging_destination_temp,
               i % 12 = 3 AS is_http,
               i % 12 = 4 AS is_rpc,
               i % 12 IN (6, 7) AS is_db,
               i % 12 IN (5, 10) AS is_messaging,
               i % 12 = 9 AS is_genai
        FROM base
    )
    SELECT server_address, grpc_status, db_system, messaging_destination_name,
           user_agent_original, gen_ai_system, url_full,
           messaging_destination_temp, is_http, is_rpc, is_db, is_messaging,
           is_genai, COUNT(*) AS n
    FROM cap GROUP BY ALL
    """,
)
def q_semconv_span_capture(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.semconv import capture_span_semconv

    ev = load(spark, sf, "events")
    i, u = F.pmod("event_id", F.lit(12)), F.col("user_id")
    su = lambda p, m: F.concat(F.lit(p), F.pmod(u, F.lit(m)))  # noqa: E731
    attrs = F.map_from_entries(
        F.filter(
            F.array(
                F.struct(F.lit("server.address").alias("key"),
                         F.when(i.isin(0, 11), su("sa", 5)).alias("value")),
                F.struct(F.lit("net.peer.name").alias("key"),
                         F.when(i.isin(1, 11), su("npn", 5)).alias("value")),
                F.struct(F.lit("peer.hostname").alias("key"),
                         F.when(i == 2, su("ph", 5)).alias("value")),
                F.struct(F.lit("http.url").alias("key"),
                         F.when(i == 3, F.concat(F.lit("http://h/p"), F.pmod(u, F.lit(4)))).alias("value")),
                F.struct(F.lit("rpc.grpc.status_code").alias("key"),
                         F.when(i == 4, F.pmod(u, F.lit(20)).cast("string")).alias("value")),
                F.struct(F.lit("messaging.destination.name").alias("key"),
                         F.when(i == 5, su("q", 3)).alias("value")),
                F.struct(F.lit("db.type").alias("key"),
                         F.when(i == 6, F.lit("mysql")).alias("value")),
                F.struct(F.lit("sql.query").alias("key"),
                         F.when(i == 7, F.lit("SELECT 1")).alias("value")),
                F.struct(F.lit("user_agent.original").alias("key"),
                         F.when(i == 8, F.lit("ua-new")).alias("value")),
                F.struct(F.lit("http.user_agent").alias("key"),
                         F.when(i == 8, F.lit("ua-old")).alias("value")),
                F.struct(F.lit("gen_ai.provider.name").alias("key"),
                         F.when(i == 9, su("g", 3)).alias("value")),
                F.struct(F.lit("messaging.temp_destination").alias("key"),
                         F.when(i == 10, F.lit("true")).alias("value")),
            ),
            lambda e: e["value"].isNotNull(),
        )
    )
    cap = capture_span_semconv(ev.select(attrs.alias("attributes")))
    return cap.groupBy(
        "server_address", "grpc_status", "db_system",
        "messaging_destination_name", "user_agent_original", "gen_ai_system",
        "url_full", "messaging_destination_temp", "is_http", "is_rpc",
        "is_db", "is_messaging", "is_genai",
    ).agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# Full hostmetrics remap (E5 full): OTel cpu/memory/load scrapers -> Elastic
# system metrics with core scaling and per-scraper datasets (transcribed
# from the public opentelemetry-lib hostmetrics remappers the processor
# delegates to, processor.go:51-117).
# ---------------------------------------------------------------------------
@register(
    "remap_hostmetrics_full",
    """
    WITH hosts AS (
        SELECT 'host-' || (user_id % 5) AS host,
               (event_id % 3) AS ts,
               0.1 + (user_id % 4) * 0.1 AS u_user,
               0.05 AS u_system,
               0.5 - (user_id % 4) * 0.05 AS u_idle,
               CAST(2 + (user_id % 3) * 2 AS DOUBLE) AS cores,
               CAST(400 + user_id % 100 AS DOUBLE) AS m_used,
               CAST(200 AS DOUBLE) AS m_free,
               CAST(100 AS DOUBLE) AS m_cached,
               CAST(event_id % 5 AS DOUBLE) AS l1
        FROM events
        GROUP BY ALL
    ),
    agg AS (SELECT host, ts,
                   MAX(u_user) AS u_user, MAX(u_system) AS u_system,
                   MAX(u_idle) AS u_idle, MAX(cores) AS cores,
                   MAX(m_used) AS m_used, MAX(m_free) AS m_free,
                   MAX(m_cached) AS m_cached, MAX(l1) AS l1
            FROM hosts GROUP BY 1, 2),
    out AS (
        SELECT host, ts, 'system.cpu.user.pct' AS metric_name,
               u_user * cores AS value, 'system.cpu' AS dataset FROM agg
        UNION ALL SELECT host, ts, 'system.cpu.user.norm.pct', u_user, 'system.cpu' FROM agg
        UNION ALL SELECT host, ts, 'system.cpu.system.pct', u_system * cores, 'system.cpu' FROM agg
        UNION ALL SELECT host, ts, 'system.cpu.system.norm.pct', u_system, 'system.cpu' FROM agg
        UNION ALL SELECT host, ts, 'system.cpu.idle.pct', u_idle * cores, 'system.cpu' FROM agg
        UNION ALL SELECT host, ts, 'system.cpu.idle.norm.pct', u_idle, 'system.cpu' FROM agg
        UNION ALL SELECT host, ts, 'system.cpu.total.pct', (1.0 - u_idle) * cores, 'system.cpu' FROM agg
        UNION ALL SELECT host, ts, 'system.cpu.total.norm.pct', 1.0 - u_idle, 'system.cpu' FROM agg
        UNION ALL SELECT host, ts, 'system.cpu.cores', cores, 'system.cpu' FROM agg
        UNION ALL SELECT host, ts, 'system.memory.total', m_used + m_free + m_cached, 'system.memory' FROM agg
        UNION ALL SELECT host, ts, 'system.memory.used.bytes', m_used, 'system.memory' FROM agg
        UNION ALL SELECT host, ts, 'system.memory.free', m_free, 'system.memory' FROM agg
        UNION ALL SELECT host, ts, 'system.memory.actual.free', m_free + m_cached, 'system.memory' FROM agg
        UNION ALL SELECT host, ts, 'system.memory.actual.used.bytes', m_used, 'system.memory' FROM agg
        UNION ALL SELECT host, ts, 'system.memory.used.pct', m_used / (m_used + m_free + m_cached), 'system.memory' FROM agg
        UNION ALL SELECT host, ts, 'system.memory.actual.used.pct', m_used / (m_used + m_free + m_cached), 'system.memory' FROM agg
        UNION ALL SELECT host, ts, 'system.load.1', l1, 'system.load' FROM agg
        UNION ALL SELECT host, ts, 'system.load.norm.1', l1 / cores, 'system.load' FROM agg
        UNION ALL SELECT host, ts, 'system.load.cores', cores, 'system.load' FROM agg
    )
    SELECT host, ts, metric_name, ROUND(value, 6) AS value, dataset FROM out
    """,
)
def q_remap_hostmetrics_full(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.remap import remap_hostmetrics

    ev = load(spark, sf, "events")
    uid, eid = F.col("user_id"), F.col("event_id")
    host = F.concat(F.lit("host-"), F.pmod(uid, F.lit(5)))
    ts = F.pmod(eid, F.lit(3))
    u_user = F.lit(0.1) + F.pmod(uid, F.lit(4)) * F.lit(0.1)
    u_idle = F.lit(0.5) - F.pmod(uid, F.lit(4)) * F.lit(0.05)
    cores = (F.lit(2) + F.pmod(uid, F.lit(3)) * 2).cast("double")
    m_used = (F.lit(400) + F.pmod(uid, F.lit(100))).cast("double")
    l1 = F.pmod(eid, F.lit(5)).cast("double")
    mk = lambda n, s, v: F.struct(  # noqa: E731
        F.lit(n).alias("metric_name"),
        (F.lit(s) if s else F.lit(None)).cast("string").alias("state"),
        v.cast("double").alias("value"),
    )
    long = ev.select(
        host.alias("host"), ts.alias("ts"),
        F.explode(
            F.array(
                mk("system.cpu.utilization", "user", u_user),
                mk("system.cpu.utilization", "system", F.lit(0.05)),
                mk("system.cpu.utilization", "idle", u_idle),
                mk("system.cpu.logical.count", None, cores),
                mk("system.memory.usage", "used", m_used),
                mk("system.memory.usage", "free", F.lit(200.0)),
                mk("system.memory.usage", "cached", F.lit(100.0)),
                mk("system.cpu.load_average.1m", None, l1),
            )
        ).alias("m"),
    ).select("host", "ts", "m.metric_name", "m.state", "m.value")
    out = remap_hostmetrics(long)
    return out.select(
        "host", "ts", "metric_name", F.round("value", 6).alias("value"), "dataset"
    )


# ---------------------------------------------------------------------------
# PRW full transport decode (S5 full): snappy-compressed prompb bodies ->
# series -> datapoints (receiver.go:31-80 + :174-221), with the pure-Python
# wire codecs.  The oracle recomputes the decoded output from the fixture's
# modular arithmetic — the Spark side must survive a REAL encode/compress/
# decompress/decode round trip to match it.
# ---------------------------------------------------------------------------
@register(
    "prw_decode_e2e",
    """
    WITH series AS (
        SELECT t.range AS i, v.s
        FROM range(2000) t CROSS JOIN (VALUES (0), (1)) v(s)
    ),
    samples AS (
        SELECT 'metric_' || ((i + s) % 4) AS metric_name,
               'job_' || (i % 3) AS job,
               'inst_' || (i % 5) AS instance,
               (i % 100) / 10.0 + s + k * 0.5 AS value,
               make_timestamp((1767225600000 + i % 60000 + k * 1000) * 1000) AS ts
        FROM series CROSS JOIN (VALUES (0), (1)) w(k)
    )
    SELECT metric_name, job, instance,
           COUNT(*) AS dps,
           ROUND(SUM(value), 4) AS value_sum,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS max_ts
    FROM samples GROUP BY 1, 2, 3
    """,
)
def q_prw_decode_e2e(spark: SparkSession, sf: str) -> DataFrame:
    from .sources.decoders import (
        decode_prw_write_request,
        generate_prw_bodies,
        prw_translate,
    )

    dps = prw_translate(decode_prw_write_request(generate_prw_bodies(spark, 2000)))
    return dps.select(
        "metric_name",
        F.element_at("attributes", F.lit("job")).alias("job"),
        F.element_at("attributes", F.lit("instance")).alias("instance"),
        "ts", "value",
    ).groupBy("metric_name", "job", "instance").agg(
        F.count(F.lit(1)).alias("dps"),
        F.round(F.sum("value"), 4).alias("value_sum"),
        _fmt_ts(F.max("ts")).alias("max_ts"),
    )


# ---------------------------------------------------------------------------
# PRW 2.0 transport decode: the symbol-table successor of prompb v1 —
# same modular fixture, so any symbol-resolution defect (wrong ref,
# aliased label, lost metadata) breaks the same closed-form oracle.
# ---------------------------------------------------------------------------
@register(
    "prw_v2_decode",
    """
    WITH series AS (
        SELECT t.range AS i, v.s
        FROM range(2000) t CROSS JOIN (VALUES (0), (1)) v(s)
    ),
    samples AS (
        SELECT 'metric_' || ((i + s) % 4) AS metric_name,
               'job_' || (i % 3) AS job,
               'inst_' || (i % 5) AS instance,
               CAST(1 + (i + s) % 2 AS BIGINT) AS meta_type,
               CASE WHEN s = 0 THEN 'seconds' ELSE 'bytes' END AS unit,
               (i % 100) / 10.0 + s + k * 0.5 AS value,
               make_timestamp((1767225600000 + i % 60000 + k * 1000) * 1000) AS ts
        FROM series CROSS JOIN (VALUES (0), (1)) w(k)
    )
    SELECT metric_name, job, instance, meta_type, unit,
           COUNT(*) AS dps,
           ROUND(SUM(value), 4) AS value_sum,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS max_ts
    FROM samples GROUP BY 1, 2, 3, 4, 5
    """,
)
def q_prw_v2_decode(spark: SparkSession, sf: str) -> DataFrame:
    """Remote-Write 2.0 decode (functions/protowire.py::
    decode_write_request_v2 + sources/decoders.py): snappy bodies with
    a request-level symbol table, packed labels_refs, and per-series
    metadata survive a real encode/compress/decompress/resolve round
    trip — the oracle recomputes labels, metadata enums/units, and
    sample aggregates from the fixture's modular arithmetic."""
    from .sources.decoders import decode_prw_write_request_v2, generate_prw_v2_bodies

    dec = decode_prw_write_request_v2(generate_prw_v2_bodies(spark, 2000))
    dps = dec.select(
        F.element_at("labels", F.lit("__name__")).alias("metric_name"),
        F.element_at("labels", F.lit("job")).alias("job"),
        F.element_at("labels", F.lit("instance")).alias("instance"),
        "meta_type",
        "unit",
        F.explode("samples").alias("smp"),
    )
    return dps.groupBy("metric_name", "job", "instance", "meta_type", "unit").agg(
        F.count(F.lit(1)).alias("dps"),
        F.round(F.sum(F.col("smp")["value"]), 4).alias("value_sum"),
        _fmt_ts(F.timestamp_millis(F.max(F.col("smp")["ts_ms"]))).alias("max_ts"),
    )


# ---------------------------------------------------------------------------
# Event-time token bucket (L1 full): deterministic analog of the reference's
# wall-clock rate.Limiter (ratelimitprocessor/local.go:33-115).  The oracle
# replays the same sequential per-key scan with a recursive CTE.
# ---------------------------------------------------------------------------
@register(
    "ratelimit_token_bucket",
    """
    WITH RECURSIVE ev AS (
        SELECT CAST(user_id AS VARCHAR) AS key,
               event_id AS event_seq,
               epoch_us(ts) AS us,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        FROM events
    ),
    scan AS (
        SELECT key, event_seq, us, rn,
               CAST(5.0 AS DOUBLE) AS tokens_before,
               TRUE AS admitted,
               CAST(4.0 AS DOUBLE) AS tokens_after
        FROM ev WHERE rn = 1
        UNION ALL
        SELECT e.key, e.event_seq, e.us, e.rn,
               LEAST(5.0, s.tokens_after + GREATEST(e.us - s.us, 0) * 2.0 / 1000000.0),
               LEAST(5.0, s.tokens_after + GREATEST(e.us - s.us, 0) * 2.0 / 1000000.0) >= 1.0,
               CASE WHEN LEAST(5.0, s.tokens_after + GREATEST(e.us - s.us, 0) * 2.0 / 1000000.0) >= 1.0
                    THEN LEAST(5.0, s.tokens_after + GREATEST(e.us - s.us, 0) * 2.0 / 1000000.0) - 1.0
                    ELSE LEAST(5.0, s.tokens_after + GREATEST(e.us - s.us, 0) * 2.0 / 1000000.0) END
        FROM scan s JOIN ev e ON e.key = s.key AND e.rn = s.rn + 1
    )
    SELECT key, event_seq, admitted,
           ROUND(tokens_before, 6) AS tokens_before,
           ROUND(tokens_after, 6) AS tokens_after
    FROM scan
    """,
)
def q_ratelimit_token_bucket(spark: SparkSession, sf: str) -> DataFrame:
    from .streaming.admission import token_bucket_admit

    ev = load(spark, sf, "events").select(
        F.col("user_id").alias("key"), "event_id", "ts"
    )
    out = token_bucket_admit(ev, ["key"], rate=2.0, burst=5.0, order_col="event_id")
    return out.select(
        "key", "event_seq", "admitted",
        F.round("tokens_before", 6).alias("tokens_before"),
        F.round("tokens_after", 6).alias("tokens_after"),
    )


# ---------------------------------------------------------------------------
# Rate-limit DELAY strategy (local.go:133-179 reserve+sleep): every event
# reserves a token (balance may go negative) and is virtually delayed by
# the refill time back to zero — the exact schedule the reference's sleeps
# produce on the same event times, emitted as data.  Oracle = the same
# sequential reservation scan as a recursive CTE.
# ---------------------------------------------------------------------------
@register(
    "ratelimit_delay_reservation",
    """
    WITH RECURSIVE ev AS (
        SELECT CAST(user_id AS VARCHAR) AS key,
               event_id AS event_seq,
               epoch_us(ts) AS us,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        FROM events
    ),
    scan AS (
        SELECT key, event_seq, us, rn,
               CAST(4.0 - 1.0 AS DOUBLE) AS tokens_after
        FROM ev WHERE rn = 1
        UNION ALL
        SELECT e.key, e.event_seq, e.us, e.rn,
               LEAST(4.0, s.tokens_after + GREATEST(e.us - s.us, 0) * 2.5 / 1000000.0) - 1.0
        FROM scan s JOIN ev e ON e.key = s.key AND e.rn = s.rn + 1
    )
    SELECT key, event_seq,
           ROUND(tokens_after, 6) AS tokens_after,
           ROUND(GREATEST(0.0, -tokens_after) * 1000000.0 / 2.5, 2) AS delay_us,
           CAST(FLOOR(us + GREATEST(0.0, -tokens_after) * 1000000.0 / 2.5)
                AS BIGINT) AS admitted_us
    FROM scan
    """,
)
def q_ratelimit_delay(spark: SparkSession, sf: str) -> DataFrame:
    from .streaming.admission import token_bucket_delay

    ev = load(spark, sf, "events").select(
        F.col("user_id").alias("key"), "event_id", "ts"
    )
    out = token_bucket_delay(ev, ["key"], rate=2.5, burst=4.0, order_col="event_id")
    return out.select(
        "key", "event_seq",
        F.round("tokens_after", 6).alias("tokens_after"),
        F.round("delay_us", 2).alias("delay_us"),
        "admitted_us",
    )


# ---------------------------------------------------------------------------
# Web-text corpus hygiene (Gopher repetition rules, PII scrub, corpus line
# dedup, benchmark decontamination)
# ---------------------------------------------------------------------------
@register(
    "text_repetition",
    """
    WITH t AS (
        SELECT doc_id, string_split(text, ' ')[1:512] AS toks FROM documents
    ), c AS (
        SELECT doc_id, toks, array_to_string(toks, ' ') AS capped,
               list_transform(
                   range(0, CAST(ceil(len(toks) / 8.0) AS INT)),
                   i -> array_to_string(toks[i*8+1:i*8+8], ' ')) AS lines,
               CASE WHEN len(toks) >= 2
                    THEN list_transform(range(1, len(toks)),
                                        i -> toks[i] || ' ' || toks[i+1])
                    ELSE [] END AS bigrams
        FROM t
    )
    SELECT doc_id,
           CAST(len(lines) AS BIGINT) AS n_lines,
           ROUND(1 - len(list_distinct(lines)) / CAST(len(lines) AS DOUBLE), 4)
               AS dup_line_frac,
           ROUND(COALESCE(list_sum(list_transform(
                     list_filter(lines,
                         l -> len(list_filter(lines, x -> x = l)) > 1),
                     l -> length(l))), 0) / CAST(length(capped) AS DOUBLE), 4)
               AS dup_line_char_frac,
           ROUND(CASE WHEN len(bigrams) > 0 THEN
                     list_max(list_transform(list_distinct(bigrams),
                         u -> len(list_filter(bigrams, x -> x = u)) * length(u)))
                 ELSE 0 END / CAST(length(capped) AS DOUBLE), 4)
               AS top_bigram_char_frac,
           CASE WHEN len(bigrams) > 0 THEN
               ROUND(1 - len(list_distinct(bigrams)) / CAST(len(bigrams) AS DOUBLE), 4)
           ELSE 0.0 END AS dup_bigram_frac
    FROM c
    """,
)
def q_text_repetition(spark: SparkSession, sf: str) -> DataFrame:
    from .functions.webtext import add_repetition_features

    # the test table is one small parquet file -> one input split; spread
    # the interpreted-HOF work across cores (a real corpus scan has many
    # splits and needs no repartition)
    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    out = add_repetition_features(docs, "text", chunk_size=8, max_tokens=512)
    return out.select(
        "doc_id", "n_lines", "dup_line_frac", "dup_line_char_frac",
        "top_bigram_char_frac", "dup_bigram_frac",
    )


@register(
    "pii_scrub",
    """
    WITH aug AS (
        SELECT doc_id,
               text || ' contact' || doc_id || '@example.com from +'
                    || (1000000 + doc_id) || ' at 10.0.' || (doc_id % 256)
                    || '.7' AS t
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT)
               AS n_email,
           CAST(len(regexp_extract_all(t,
               '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS BIGINT)
               AS n_ipv4,
           CAST(len(regexp_extract_all(t, '\\+\\d{7,15}')) AS BIGINT) AS n_phone,
           regexp_replace(
               regexp_replace(
                   regexp_replace(t,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                   '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
                   '<IPV4>', 'g'),
               '\\+\\d{7,15}', '<PHONE>', 'g') AS scrubbed
    FROM aug
    """,
)
def q_pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    from .functions.webtext import pii_counts, pii_scrub

    docs = load(spark, sf, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact"),
            F.col("doc_id"),
            F.lit("@example.com from +"),
            F.col("doc_id") + 1000000,
            F.lit(" at 10.0."),
            F.col("doc_id") % 256,
            F.lit(".7"),
        ).alias("t"),
    )
    counts = pii_counts(F.col("t"))
    return aug.select(
        "doc_id",
        *[c.alias(n) for n, c in counts.items()],
        pii_scrub(F.col("t")).alias("scrubbed"),
    )


@register(
    "dedup_corpus_lines",
    """
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), c AS (
        SELECT doc_id,
               list_transform(
                   range(0, CAST(ceil(len(toks) / 8.0) AS INT)),
                   i -> array_to_string(toks[i*8+1:i*8+8], ' ')) AS lines
        FROM t
    ), chunks AS (
        SELECT doc_id,
               unnest(range(0, len(lines))) AS pos,
               unnest(lines) AS line
        FROM c
    ), freq AS (
        SELECT line, COUNT(DISTINCT doc_id) AS line_df FROM chunks GROUP BY line
    ), kept AS (
        SELECT ch.doc_id, ch.pos, ch.line
        FROM chunks ch JOIN freq f USING (line)
        WHERE f.line_df <= 1
    )
    SELECT doc_id,
           string_agg(line, ' ' ORDER BY pos) AS text_dedup,
           CAST(COUNT(*) AS BIGINT) AS n_lines_kept
    FROM kept GROUP BY doc_id
    """,
)
def q_dedup_corpus_lines(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.dedup import dedup_corpus_lines

    docs = load_docs_spread(spark, sf)
    return dedup_corpus_lines(docs, chunk_size=8, max_doc_freq=1)


@register(
    "domain_boilerplate",
    """
    WITH t AS (
        SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
    ), c AS (
        SELECT doc_id, source,
               list_transform(
                   range(0, CAST(ceil(len(toks) / 8.0) AS INT)),
                   i -> array_to_string(toks[i*8+1:i*8+8], ' ')) AS lines
        FROM t
    ), chunks AS (
        SELECT doc_id, source,
               unnest(range(0, len(lines))) AS pos,
               unnest(lines) AS line
        FROM c
    ), totals AS (
        SELECT source, COUNT(*) AS docs FROM documents GROUP BY source
    ), freq AS (
        SELECT source, line, COUNT(DISTINCT doc_id) AS line_df
        FROM chunks GROUP BY source, line
    ), bp AS (
        SELECT f.source, f.line
        FROM freq f JOIN totals tt USING (source)
        WHERE f.line_df >= 2 AND f.line_df * 20 >= 1 * tt.docs
    ), kept AS (
        SELECT ch.doc_id, ch.pos, ch.line
        FROM chunks ch
        WHERE NOT EXISTS (
            SELECT 1 FROM bp
            WHERE bp.source = ch.source AND bp.line = ch.line)
    )
    SELECT doc_id,
           string_agg(line, ' ' ORDER BY pos) AS text_clean,
           CAST(COUNT(*) AS BIGINT) AS n_lines_kept
    FROM kept GROUP BY doc_id
    """,
)
def q_domain_boilerplate(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.dedup import strip_domain_boilerplate

    docs = load_docs_spread(spark, sf)
    return strip_domain_boilerplate(
        docs, chunk_size=8, min_count=2, frac=(1, 20)
    )


@register(
    "decontaminate_ngrams",
    """
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ), bench AS (
        SELECT DISTINCT array_to_string(t[1:13], ' ') AS gram
        FROM toks WHERE doc_id % 97 = 0 AND len(t) >= 13
    ), grams AS (
        SELECT doc_id,
               unnest(list_distinct(
                   CASE WHEN len(t) >= 13
                        THEN list_transform(range(1, len(t) - 11),
                                            i -> array_to_string(t[i:i+12], ' '))
                        ELSE [] END)) AS gram
        FROM toks
    )
    SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM grams g JOIN bench b USING (gram)
    GROUP BY g.doc_id
    """,
)
def q_decontaminate_ngrams(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.dedup import contaminated_ids, contamination_ngrams

    docs = load_docs_spread(spark, sf)
    bench = contamination_ngrams(docs.where(F.col("doc_id") % 97 == 0), n=13)
    return contaminated_ids(docs, bench, n=13)


@register(
    "multimodal_real_decode",
    """
    WITH dims AS (
        SELECT range AS id, range % 3 AS k,
               8 + range % 5 AS h, 8 + range % 7 AS w,
               100 + range % 50 AS n, 8000 + (range % 3) * 4000 AS rate,
               2 + range % 3 AS f
        FROM range(300)
    )
    SELECT id AS media_id,
           CASE k WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END
               AS kind,
           CAST(CASE k
                WHEN 0 THEN 54 + ((w*3 + 3) // 4) * 4 * h
                WHEN 1 THEN 44 + 2*n
                ELSE 12 + f*h*w*3 END AS BIGINT) AS n_bytes,
           CAST(CASE WHEN k IN (0, 2) THEN w END AS BIGINT) AS width,
           CAST(CASE WHEN k IN (0, 2) THEN h END AS BIGINT) AS height,
           CAST(CASE WHEN k = 2 THEN f END AS BIGINT) AS n_frames,
           CAST(CASE WHEN k = 1 THEN rate END AS BIGINT) AS sample_rate,
           CAST(CASE WHEN k = 1 THEN n END AS BIGINT) AS n_samples,
           CASE WHEN k IN (0, 2) THEN ROUND(list_avg(flatten(
               list_transform(range(0, h), r -> list_transform(range(0, w),
                   c -> CAST((id + 3*r + 5*c) % 256 AS DOUBLE))))), 4)
           END AS mean_r,
           CASE WHEN k IN (0, 2) THEN ROUND(list_avg(flatten(
               list_transform(range(0, h), r -> list_transform(range(0, w),
                   c -> CAST((id + 3*r + 5*c + 11) % 256 AS DOUBLE))))), 4)
           END AS mean_g,
           CASE WHEN k IN (0, 2) THEN ROUND(list_avg(flatten(
               list_transform(range(0, h), r -> list_transform(range(0, w),
                   c -> CAST((id + 3*r + 5*c + 22) % 256 AS DOUBLE))))), 4)
           END AS mean_b,
           CASE WHEN k = 1 THEN ROUND(sqrt(list_avg(
               list_transform(range(0, n), i -> CAST(
                   ((id*7 + 13*i) % 256 - 128) * ((id*7 + 13*i) % 256 - 128)
                   AS DOUBLE)))), 4)
           END AS rms
    FROM dims
    """,
)
def q_multimodal_real_decode(spark: SparkSession, sf: str) -> DataFrame:
    """Encode->decode round trip over REAL bytes (BMP/WAV/RAWV): the oracle
    recomputes every feature from the closed-form pixel/sample formulas and
    never sees a byte — any drift in the codecs breaks the hash."""
    from .operators.multimodal import extract_media_features, generate_real_media

    feats = extract_media_features(generate_real_media(spark, 300))
    return feats.select(
        "media_id", "kind", "n_bytes", "width", "height",
        "n_frames", "sample_rate", "n_samples",
        F.round("mean_r", 4).alias("mean_r"),
        F.round("mean_g", 4).alias("mean_g"),
        F.round("mean_b", 4).alias("mean_b"),
        F.round("rms", 4).alias("rms"),
    )


@register(
    "multimodal_png_decode",
    """
    WITH dims AS (
        SELECT range AS id,
               8 + range % 5 AS h,
               8 + range % 7 AS w,
               CASE range % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS nch
        FROM range(300)
    )
    SELECT id AS media_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           ROUND(list_avg(flatten(
               list_transform(range(0, h), r -> list_transform(range(0, w),
                   c -> CAST((id + 3*r + 5*c) % 256 AS DOUBLE))))), 4)
               AS mean_r,
           ROUND(list_avg(flatten(
               list_transform(range(0, h), r -> list_transform(range(0, w),
                   c -> CAST((id + 3*r + 5*c + CASE WHEN nch = 1 THEN 0
                                                    ELSE 11 END) % 256
                             AS DOUBLE))))), 4) AS mean_g,
           ROUND(list_avg(flatten(
               list_transform(range(0, h), r -> list_transform(range(0, w),
                   c -> CAST((id + 3*r + 5*c + CASE WHEN nch = 1 THEN 0
                                                    ELSE 22 END) % 256
                             AS DOUBLE))))), 4) AS mean_b
    FROM dims
    """,
)
def q_multimodal_png_decode(spark: SparkSession, sf: str) -> DataFrame:
    """REAL PNG decode (stdlib zlib + None/Sub/Up/Average/Paeth filter
    reconstruction — functions/media_codec.py): payloads are encoded with
    all five scanline filters across gray/RGB/RGBA, decoded on executors,
    and the oracle recomputes the channel means from the closed-form pixel
    formula without ever seeing a byte.  n_bytes is excluded: DEFLATE
    output size is not closed-form."""
    from .operators.multimodal import extract_media_features, generate_png_media

    feats = extract_media_features(generate_png_media(spark, 300))
    return feats.select(
        "media_id", "width", "height",
        F.round("mean_r", 4).alias("mean_r"),
        F.round("mean_g", 4).alias("mean_g"),
        F.round("mean_b", 4).alias("mean_b"),
    )


@register(
    "multimodal_frame_sample",
    """
    WITH vids AS (
        SELECT range AS id, 8 + range % 5 AS h, 8 + range % 7 AS w
        FROM range(300) WHERE range % 3 = 2
    ), fr AS (
        SELECT id, h, w, unnest([0, 2]) AS fidx FROM vids
    )
    SELECT id AS media_id,
           CAST(fidx AS BIGINT) AS frame_idx,
           CAST(fidx * 100 AS BIGINT) AS frame_ms,
           ROUND(list_avg(flatten(
               list_transform(range(0, h), r -> list_transform(range(0, w),
                   c -> CAST((id + 3*r + 5*c + 17*fidx) % 256 AS DOUBLE))))), 4)
               AS mean_r,
           ROUND(list_avg(flatten(
               list_transform(range(0, h), r -> list_transform(range(0, w),
                   c -> CAST((id + 3*r + 5*c + 11 + 17*fidx) % 256 AS DOUBLE))))), 4)
               AS mean_g,
           ROUND(list_avg(flatten(
               list_transform(range(0, h), r -> list_transform(range(0, w),
                   c -> CAST((id + 3*r + 5*c + 22 + 17*fidx) % 256 AS DOUBLE))))), 4)
               AS mean_b
    FROM fr
    """,
)
def q_multimodal_frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Video frame sampling over REAL RAWV bytes: every 2nd frame decoded
    on executors, per-frame channel means checked against the closed-form
    frame formula (frame f = base image + 17f mod 256; videos have 4
    frames at 10 fps, so sampled frame_ms = idx*100)."""
    from .operators.multimodal import generate_real_media, sample_frames

    frames = sample_frames(generate_real_media(spark, 300), every_n=2)
    return frames.select(
        "media_id", "frame_idx", "frame_ms",
        F.round("mean_r", 4).alias("mean_r"),
        F.round("mean_g", 4).alias("mean_g"),
        F.round("mean_b", 4).alias("mean_b"),
    )


@register(
    "multimodal_resize_roundtrip",
    """
    WITH dims AS (
        SELECT range AS id,
               8 + range % 5 AS h,
               8 + range % 7 AS w,
               CASE range % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS nch,
               LEAST(6.0 / (8 + range % 7), 6.0 / (8 + range % 5), 1.0) AS s
        FROM range(120)
    ), t AS (
        SELECT id, h, w, nch,
               GREATEST(CAST(FLOOR(w * s) AS INT), 1) AS tw,
               GREATEST(CAST(FLOOR(h * s) AS INT), 1) AS th
        FROM dims
    )
    SELECT id AS media_id,
           CAST(tw AS BIGINT) AS width,
           CAST(th AS BIGINT) AS height,
           ROUND(list_avg(flatten(
               list_transform(range(0, th), i -> list_transform(range(0, tw),
                   j -> CAST((id + 3*((i*h)//th) + 5*((j*w)//tw)) % 256
                             AS DOUBLE))))), 4) AS mean_r,
           ROUND(list_avg(flatten(
               list_transform(range(0, th), i -> list_transform(range(0, tw),
                   j -> CAST((id + 3*((i*h)//th) + 5*((j*w)//tw)
                              + CASE WHEN nch = 1 THEN 0 ELSE 11 END) % 256
                             AS DOUBLE))))), 4) AS mean_g,
           ROUND(list_avg(flatten(
               list_transform(range(0, th), i -> list_transform(range(0, tw),
                   j -> CAST((id + 3*((i*h)//th) + 5*((j*w)//tw)
                              + CASE WHEN nch = 1 THEN 0 ELSE 22 END) % 256
                             AS DOUBLE))))), 4) AS mean_b
    FROM t
    """,
)
def q_multimodal_resize_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Resize path over real PNG bytes: decode -> nearest-neighbor
    downscale to max_dim=6 -> re-encode -> decode again for features.
    The oracle recomputes the resized channel means straight from the
    pixel formula through the integer index maps (src row = i*h//th),
    so both the resize arithmetic and the re-encode survive the hash."""
    from .operators.multimodal import (
        extract_media_features,
        generate_png_media,
        resize_media,
    )

    feats = extract_media_features(
        resize_media(generate_png_media(spark, 120), max_dim=6)
    )
    return feats.select(
        "media_id", "width", "height",
        F.round("mean_r", 4).alias("mean_r"),
        F.round("mean_g", 4).alias("mean_g"),
        F.round("mean_b", 4).alias("mean_b"),
    )


@register(
    "multimodal_jpeg_decode",
    """
    SELECT range AS media_id,
           'image' AS kind,
           CAST(8 + range % 7 AS BIGINT) AS width,
           CAST(8 + range % 5 AS BIGINT) AS height
    FROM range(300)
    """,
)
def q_multimodal_jpeg_decode(spark: SparkSession, sf: str) -> DataFrame:
    """REAL baseline-JPEG decode (pure-Python huffman + IDCT,
    functions/media_codec.py): 300 gray/RGB payloads entropy-decoded on
    executors.  JPEG is lossy, so the hash-exact oracle covers the parse
    surface (marker walk, DHT, entropy stream, block layout -> dims);
    pixel fidelity (max err <= 2 at quant=1, channel means within 0.15)
    is pinned by unit tests instead."""
    from .operators.multimodal import extract_media_features, generate_jpeg_media

    feats = extract_media_features(generate_jpeg_media(spark, 300))
    return feats.select("media_id", "kind", "width", "height")


@register(
    "multimodal_mp4_parse",
    """
    WITH ids AS (SELECT range AS id FROM range(300)),
    v AS (
        SELECT id AS media_id, CAST(1 AS BIGINT) AS track_id,
               'vide' AS handler,
               CASE id % 3 WHEN 0 THEN 'avc1' WHEN 1 THEN 'hvc1'
                    ELSE 'mp4v' END AS codec,
               'isom' AS brand,
               CAST(16 * (4 + id % 5) AS BIGINT) AS width,
               CAST(16 * (3 + id % 4) AS BIGINT) AS height,
               CAST(600 * (1 + id % 2) AS BIGINT) AS timescale,
               CAST((5 + id % 7) * (20 + id % 10) AS BIGINT) AS duration,
               CAST(NULL AS BIGINT) AS sample_rate,
               CAST(5 + id % 7 AS BIGINT) AS n_samples,
               CAST((5 + id % 7 + 1) // 2 AS BIGINT) AS n_chunks,
               CAST(list_sum(list_transform(range(0, 5 + id % 7),
                    i -> 50 + (id + 7*i) % 40)) AS BIGINT) AS total_bytes,
               CAST(list_sum(list_transform(range(0, 5 + id % 7),
                    i -> (50 + (id + 7*i) % 40) * ((id + i) % 256)))
                    AS BIGINT) AS byte_sum
        FROM ids
    ),
    a AS (
        SELECT id AS media_id, CAST(2 AS BIGINT) AS track_id,
               'soun' AS handler, 'mp4a' AS codec, 'isom' AS brand,
               CAST(0 AS BIGINT) AS width, CAST(0 AS BIGINT) AS height,
               CAST(8000 + (id % 3) * 4000 AS BIGINT) AS timescale,
               CAST((8 + id % 5) * 1024 AS BIGINT) AS duration,
               CAST(8000 + (id % 3) * 4000 AS BIGINT) AS sample_rate,
               CAST(8 + id % 5 AS BIGINT) AS n_samples,
               CAST((8 + id % 5 + 2) // 3 AS BIGINT) AS n_chunks,
               CAST((8 + id % 5) * (20 + id % 10) AS BIGINT) AS total_bytes,
               CAST(list_sum(list_transform(range(0, 8 + id % 5),
                    i -> (20 + id % 10) * ((3*id + i) % 256)))
                    AS BIGINT) AS byte_sum
        FROM ids WHERE id % 2 = 1
    )
    SELECT * FROM v UNION ALL SELECT * FROM a
    """,
)
def q_multimodal_mp4_parse(spark: SparkSession, sf: str) -> DataFrame:
    """REAL ISO-BMFF container parse (functions/mp4_codec.py): 300 MP4
    payloads — full ftyp/moov/trak/stbl box trees, odd ids with a second
    audio track — are written and re-parsed on executors; every sample is
    resolved through stsc/stsz/stco to an absolute mdat offset and its
    bytes summed.  The oracle recomputes codec ids, dims, timescales,
    durations, chunk counts, and both byte sums from the closed-form track
    layout without ever seeing a byte, so any error in the box walk or the
    sample-table resolution breaks the hash.  Frame decode of the
    compressed bitstream is documented out of scope (no ffmpeg)."""
    from .operators.multimodal import generate_mp4_media, parse_mp4_media

    return parse_mp4_media(generate_mp4_media(spark, 300))


def _messy_url_variants(docs: DataFrame) -> DataFrame:
    """Deterministic messy-URL table: every 5 consecutive doc_ids spell the
    SAME page five ways — plain, uppercase-scheme/WWW/default-port,
    trailing-slash+port, tracking-params-only, and reordered-params+
    fragment (the last canonicalizes to a distinct URL with a sorted
    query, exercising param sorting rather than collapsing)."""
    gid = F.floor(F.col("doc_id") / 5).cast("long")
    v = F.pmod(F.col("doc_id"), F.lit(5))
    host = F.concat(F.lit("site"), F.pmod(gid, F.lit(40)), F.lit(".example.com"))
    base = F.concat(F.lit("/p/"), gid)
    url = (
        F.when(v == 0, F.concat(F.lit("https://"), host, base))
        .when(v == 1, F.concat(F.lit("HTTPS://WWW."), F.upper(host), F.lit(":443"), base))
        .when(v == 2, F.concat(F.lit("https://"), host, F.lit(":443"), base, F.lit("/")))
        .when(v == 3, F.concat(F.lit("https://"), host, base, F.lit("?utm_source=feed&ref=home")))
        .otherwise(F.concat(F.lit("https://"), host, base, F.lit("?b=2&a=1#sec")))
    )
    return docs.select("doc_id", url.alias("url"))


_URL_CANON_EXPECTED = """
        'https://site' || (doc_id // 5) % 40 || '.example.com/p/' ||
        (doc_id // 5) ||
        CASE WHEN doc_id % 5 = 4 THEN '?a=1&b=2' ELSE '' END
"""


@register(
    "url_canonicalize",
    f"""
    SELECT doc_id, {_URL_CANON_EXPECTED} AS canonical_url
    FROM documents
    """,
)
def q_url_canonicalize(spark: SparkSession, sf: str) -> DataFrame:
    """URL canonicalization over deterministically messy variants (scheme/
    host case, www., default ports, trailing slashes, tracking params,
    query order, fragments): the REAL operator normalizes the constructed
    URLs; the oracle states the closed-form expected canonical per id, so
    any rule drift (a kept utm param, an unsorted query, a surviving
    fragment) breaks the hash.  Pure JVM expression tree — scan-fused,
    no UDF (operators/urls.py)."""
    from .operators.urls import with_canonical_url

    docs = load(spark, sf, "documents").select("doc_id")
    return with_canonical_url(_messy_url_variants(docs)).select(
        "doc_id", "canonical_url"
    )


@register(
    "url_dedup",
    f"""
    WITH c AS (
        SELECT doc_id, {_URL_CANON_EXPECTED} AS canonical_url
        FROM documents
    )
    SELECT canonical_url,
           MIN(doc_id) AS keeper_id,
           CAST(COUNT(*) AS BIGINT) AS n_variants
    FROM c GROUP BY 1
    """,
)
def q_url_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Canonical-URL dedup (the scan-level pass a crawl pipeline runs
    before any content dedup): four of each five variants collapse to one
    canonical URL with the min-id keeper; the reordered-params variant
    survives as its own canonical.  One partial-aggregated groupBy on the
    canonical key — a hot page crawled millions of times is an aggregate
    key, never a hot join partition."""
    from .operators.urls import url_dedup_survivors

    docs = load(spark, sf, "documents").select("doc_id")
    return url_dedup_survivors(_messy_url_variants(docs))


_ASOF_ORACLE = """
    WITH dims AS (
        SELECT user_id, ts AS dim_ts,
               't' || CAST(MIN(event_id) % 5 AS VARCHAR) AS tier
        FROM events WHERE event_id % 37 = 0
        GROUP BY user_id, ts
    )
    SELECT e.event_id, e.user_id, d.tier
    FROM events e ASOF LEFT JOIN dims d
      ON e.user_id = d.user_id AND e.ts >= d.dim_ts
"""


def _asof_inputs(spark: SparkSession, sf: str):
    """Events + a slowly-changing dim synthesized from them (every 37th
    event publishes a new per-user tier; MIN collapses same-instant
    publications so (key, dim_ts) is unique — a tie there is undefined in
    every as-of semantics including DuckDB's)."""
    ev = load(spark, sf, "events")
    dims = (
        ev.where(F.col("event_id") % 37 == 0)
        .groupBy("user_id", F.col("ts").alias("dim_ts"))
        .agg(
            F.concat(
                F.lit("t"), (F.min("event_id") % 5).cast("string")
            ).alias("tier")
        )
    )
    return ev.select("event_id", "user_id", "ts"), dims


@register("asof_join_range", _ASOF_ORACLE)
def q_asof_join_range(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join, interval form (operators/asof.py::asof_join_range):
    versions get [ts, next_ts) validity via one lead() window over the
    TINY dim table, then an equi-join on key with interval containment.
    Events that are themselves version publications tie on ts and must
    see the version effective AT that instant.  Oracle = DuckDB's native
    ASOF LEFT JOIN — a completely independent implementation of the same
    temporal semantics."""
    from .operators.asof import asof_join_range

    ev, dims = _asof_inputs(spark, sf)
    return asof_join_range(ev, dims, ["user_id"], ts_col="ts").select(
        "event_id", "user_id", "tier"
    )


@register("asof_join_union", _ASOF_ORACLE)
def q_asof_join_union(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join, union-window form (::asof_join_union): events and
    versions union into one per-key timeline, latest attributes fill
    forward — one shuffle, linear per-key cost under high-frequency dim
    churn.  Same oracle as the range form: both implementations must
    agree with DuckDB's ASOF JOIN row-for-row."""
    from .operators.asof import asof_join_union

    ev, dims = _asof_inputs(spark, sf)
    return asof_join_union(ev, dims, ["user_id"], ts_col="ts").select(
        "event_id", "user_id", "tier"
    )


def _session_flags_sql(op: str) -> str:
    """Session-start flags over events at a 4h gap.  ``op`` is the split
    comparison; BOTH the lag-based sessionizer and Spark's native
    session_window split strictly on delta > gap (empirically pinned in
    tests/test_sessions.py — an event at exactly last + gap extends the
    session), so every session gate passes '>'.  Parameterized so a
    future >=-semantics engine can share the text rather than fork it."""
    assert op in (">", ">=")
    return f"""
    SELECT event_id, user_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                        {op} 14400000000
                THEN 1 ELSE 0 END AS st
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


_SESSION_FLAGS_SQL = _session_flags_sql(">")


@register(
    "sessionize_events",
    f"""
    WITH s AS ({_SESSION_FLAGS_SQL})
    SELECT event_id, user_id,
           CAST(st = 1 AS BOOLEAN) AS is_session_start,
           CAST(SUM(st) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT)
               AS session_id
    FROM s
    """,
)
def q_sessionize_events(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based sessionization (operators/sessions.py): 4-hour
    inactivity gap per user (the fixture's per-user event cadence makes
    shorter gaps nearly all-singleton), ties broken by event_id.  lag-gap flag +
    running-sum numbering, both whole-stage-codegen windows on one
    key-partitioned shuffle; oracle replays the identical two-window
    composition in SQL."""
    from .operators.sessions import sessionize

    ev = load(spark, sf, "events").select("event_id", "user_id", "ts")
    return sessionize(
        ev, ["user_id"], ts_col="ts", gap="4 hours", order_col="event_id"
    ).select("event_id", "user_id", "is_session_start", "session_id")


@register(
    "session_stats_events",
    f"""
    WITH s AS ({_SESSION_FLAGS_SQL}),
    numbered AS (
        SELECT user_id, ts,
               SUM(st) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) - 1 AS session_id
        FROM s
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT)
               AS duration_us
    FROM numbered GROUP BY 1, 2
    """,
)
def q_session_stats_events(spark: SparkSession, sf: str) -> DataFrame:
    """Per-session aggregates on top of sessionization: one
    partial-aggregated groupBy on (key, session) — start/end/count/
    duration, the session table a log-analytics user actually consumes."""
    from .operators.sessions import session_stats

    ev = load(spark, sf, "events").select("event_id", "user_id", "ts")
    st = session_stats(
        ev, ["user_id"], ts_col="ts", gap="4 hours", order_col="event_id"
    )
    return st.select(
        "user_id", "session_id",
        _fmt_ts(F.col("session_start")).alias("session_start"),
        _fmt_ts(F.col("session_end")).alias("session_end"),
        "n_events", "duration_us",
    )


_RANGE_ORACLE = """
    WITH r AS (
        SELECT 10*i AS lo, 10*i + 8 AS hi, 'g' || CAST(i AS VARCHAR) AS geo
        FROM (SELECT unnest(range(15)) AS i)
    )
    SELECT e.event_id, e.user_id, r.geo
    FROM events e LEFT JOIN r
      ON e.user_id >= r.lo AND e.user_id < r.hi
"""


def _range_inputs(spark: SparkSession, sf: str):
    ev = load(spark, sf, "events").select("event_id", "user_id")
    ranges = spark.range(15).select(
        (F.col("id") * 10).alias("lo"),
        (F.col("id") * 10 + 8).alias("hi"),
        F.concat(F.lit("g"), F.col("id").cast("string")).alias("geo"),
    )
    return ev, ranges


@register("range_lookup_broadcast", _RANGE_ORACLE)
def q_range_lookup_broadcast(spark: SparkSession, sf: str) -> DataFrame:
    """Range join, broadcast form (operators/ranges.py): user ids matched
    into disjoint [lo, hi) tiers; the interval table broadcasts and the
    nested loop runs in-memory — the geo-table shape.  Users in the 2-wide
    gap of each decade stay NULL (left semantics)."""
    from .operators.ranges import range_lookup_broadcast

    ev, ranges = _range_inputs(spark, sf)
    return range_lookup_broadcast(ev, ranges, "user_id")


@register("range_lookup_bucketed", _RANGE_ORACLE)
def q_range_lookup_bucketed(spark: SparkSession, sf: str) -> DataFrame:
    """Range join, bucketized scale form: intervals explode into the
    fixed-width buckets they span and the match becomes an equi-join on
    bucket plus a residual containment filter — shuffle-partitionable on
    both sides, no nested loop.  Same oracle as the broadcast form."""
    from .operators.ranges import range_lookup_bucketed

    ev, ranges = _range_inputs(spark, sf)
    return range_lookup_bucketed(ev, ranges, "user_id", bucket_size=16)


@register(
    "counter_rate_events",
    """
    WITH c AS (
        SELECT event_id, user_id, ts,
               SUM(CAST(FLOOR(value * 100) AS BIGINT)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) % 500 AS counter
        FROM events
    ), d AS (
        SELECT event_id, user_id, counter,
               lag(counter) OVER w AS pv,
               epoch_us(ts) - lag(epoch_us(ts)) OVER w AS dt_us
        FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id, user_id,
           CAST(CASE WHEN pv IS NULL THEN NULL
                     WHEN counter >= pv THEN counter - pv
                     ELSE counter END AS DOUBLE) AS increase,
           ROUND(CASE WHEN pv IS NULL OR dt_us = 0 THEN NULL
                      ELSE (CASE WHEN counter >= pv THEN counter - pv
                                 ELSE counter END)
                           / (dt_us / 1000000.0) END, 6) AS rate
    FROM d
    """,
)
def q_counter_rate_events(spark: SparkSession, sf: str) -> DataFrame:
    """PromQL-semantics counter rate (operators/counters.py): a resetting
    cumulative counter is synthesized per user (integer cumsum mod 500 —
    FLOOR-scaled to BIGINT so both engines accumulate identically), then
    increase/rate with reset detection: a counter that went DOWN restarted,
    so the new value is the whole increase.  First sample per key stays
    NULL."""
    from .operators.counters import counter_rate

    ev = load(spark, sf, "events").select("event_id", "user_id", "ts", "value")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ctr = ev.withColumn(
        "counter",
        F.pmod(F.sum(F.floor(F.col("value") * 100).cast("long")).over(w), F.lit(500)),
    ).select("event_id", "user_id", "ts", "counter")
    out = counter_rate(ctr, ["user_id"], value_col="counter", order_col="event_id")
    return out.select(
        "event_id", "user_id",
        F.col("increase").cast("double").alias("increase"),
        F.round("rate", 6).alias("rate"),
    )


def _hq_case_sql(q: float) -> str:
    """PromQL histogram_quantile restated as chained CASE over the dense
    bucket counts c1..c5 (bounds 5/10/20/50 + overflow)."""
    bounds = [5.0, 10.0, 20.0, 50.0]
    t = f"({q} * (c1 + c2 + c3 + c4 + c5))"
    arms, cum, prev = [], "", "0"
    for i, hi in enumerate(bounds, start=1):
        cum = " + ".join(f"c{j}" for j in range(1, i + 1))
        lo = 0.0 if i == 1 else bounds[i - 2]
        # association order matches the Spark operator exactly —
        # (hi-lo) * ((t-prev)/c) — so both engines produce the same
        # double bit-for-bit; the other order differs in the last ulp
        # and would flip ROUND(...,4) on knife-edge values
        arms.append(
            f"WHEN ({cum}) >= {t} THEN {lo} + ({hi} - {lo}) * "
            f"(({t} - ({prev})) / c{i})"
        )
        prev = cum
    return (
        "CASE WHEN (c1 + c2 + c3 + c4 + c5) = 0 THEN NULL "
        + " ".join(arms)
        + f" ELSE {bounds[-1]} END"
    )


@register(
    "histogram_quantile_events",
    f"""
    WITH b AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN value < 5 THEN 1 ELSE 0 END) AS DOUBLE) AS c1,
               CAST(SUM(CASE WHEN value >= 5 AND value < 10 THEN 1 ELSE 0 END) AS DOUBLE) AS c2,
               CAST(SUM(CASE WHEN value >= 10 AND value < 20 THEN 1 ELSE 0 END) AS DOUBLE) AS c3,
               CAST(SUM(CASE WHEN value >= 20 AND value < 50 THEN 1 ELSE 0 END) AS DOUBLE) AS c4,
               CAST(SUM(CASE WHEN value >= 50 THEN 1 ELSE 0 END) AS DOUBLE) AS c5
        FROM events GROUP BY 1
    )
    SELECT event_type,
           ROUND({_hq_case_sql(0.5)}, 4) AS p50,
           ROUND({_hq_case_sql(0.9)}, 4) AS p90,
           ROUND({_hq_case_sql(0.99)}, 4) AS p99
    FROM b
    """,
)
def q_histogram_quantile_events(spark: SparkSession, sf: str) -> DataFrame:
    """PromQL histogram_quantile over the same bucket layout the A4 merge
    gate uses (bounds 5/10/20/50 + overflow): dense per-type counts array,
    linear interpolation inside the first cumulative bucket reaching
    q x total, overflow clamps to the highest finite bound.  All column
    expressions (operators/counters.py::histogram_quantile) — the oracle
    restates the interpolation as chained CASE arms."""
    from .operators.counters import histogram_quantile

    ev = load(spark, sf, "events")
    edges = [5.0, 10.0, 20.0, 50.0]
    conds = [F.col("value") < edges[0]] + [
        (F.col("value") >= edges[i - 1]) & (F.col("value") < edges[i])
        for i in range(1, len(edges))
    ] + [F.col("value") >= edges[-1]]
    counts = ev.groupBy("event_type").agg(
        *[
            F.sum(F.when(c, 1).otherwise(0)).cast("long").alias(f"c{i+1}")
            for i, c in enumerate(conds)
        ]
    )
    arr = F.array(*[F.col(f"c{i}") for i in range(1, 6)])
    return counts.select(
        "event_type",
        F.round(histogram_quantile(0.5, arr, edges), 4).alias("p50"),
        F.round(histogram_quantile(0.9, arr, edges), 4).alias("p90"),
        F.round(histogram_quantile(0.99, arr, edges), 4).alias("p99"),
    )


@register(
    "log_template_counts",
    """
    WITH lines AS (
        SELECT 'ts=' || strftime(ts, '%Y-%m-%dT%H:%M:%SZ')
               || ' user=' || CAST(user_id AS VARCHAR)
               || ' ip=10.0.' || CAST(user_id % 256 AS VARCHAR) || '.'
               || CAST(event_id % 256 AS VARCHAR)
               || ' req=0x' || lpad(to_hex(event_id), 8, '0')
               || ' type="' || event_type || '"' AS text
        FROM events
    ),
    masked AS (
        SELECT regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(text,
                         '[0-9]{4}-[0-9]{2}-[0-9]{2}T[0-9]{2}:[0-9]{2}:[0-9]{2}(\\.[0-9]+)?Z?',
                         '<TS>', 'g'),
                       '[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}',
                       '<UUID>', 'g'),
                     '\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '<IP>', 'g'),
                   '0x[0-9a-fA-F]+|\\b[0-9a-fA-F]{16,}\\b', '<HEX>', 'g'),
                 '\\b[0-9]+(\\.[0-9]+)?\\b', '<NUM>', 'g') AS template
        FROM lines
    )
    SELECT template, CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM masked GROUP BY 1
    """,
)
def q_log_template_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Drain-lite log template mining (operators/textmine.py): log lines
    synthesized from events (ISO timestamp, numeric ids, dotted IPs, hex
    request ids, a quoted type) mask down to one structural template per
    event type — 10,000 lines collapse to 5 templates with counts, the
    anomaly surface of a log pipeline.  Pure regexp chain in the Java∩RE2
    subset; the oracle replays the same line synthesis and masking
    order."""
    from .operators.textmine import log_template_counts

    ev = load(spark, sf, "events")
    lines = ev.select(
        F.concat(
            F.lit("ts="),
            F.date_format(F.col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'"),
            F.lit(" user="), F.col("user_id").cast("string"),
            F.lit(" ip=10.0."), F.pmod("user_id", F.lit(256)).cast("string"),
            F.lit("."), F.pmod("event_id", F.lit(256)).cast("string"),
            F.lit(" req=0x"), F.lpad(F.hex(F.col("event_id")), 8, "0"),
            F.lit(' type="'), F.col("event_type"), F.lit('"'),
        ).alias("text")
    )
    return log_template_counts(lines, "text")


@register(
    "tfidf_top_terms",
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks WHERE term <> '' GROUP BY 1, 2
    ),
    docfreq AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
    ),
    ranked AS (
        SELECT tf.doc_id, tf.term, tf.tf, d.df,
               ROW_NUMBER() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY FLOOR(tf.tf * 1000000.0 / (d.df + 1)) DESC,
                            tf.term ASC) AS term_rank
        FROM tf JOIN docfreq d USING (term)
    )
    SELECT doc_id, term, tf, df, CAST(term_rank AS INTEGER) AS term_rank
    FROM ranked WHERE term_rank <= 3
    """,
)
def q_tfidf_top_terms(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document top-3 tf-idf terms (operators/textmine.py): document
    frequency from one token aggregate, ranking on the INTEGER surrogate
    tf*1e6/(df+1) (bit-exact across engines — a float tf*ln score would
    invite last-ulp tie flips), top-N through the shared skew-proof
    two_phase_top_n.  The float tfidf column is for consumers and is
    deliberately excluded from the hash-checked gate output."""
    from .operators.textmine import tfidf_top_terms

    docs = load_docs_spread(spark, sf)
    top = tfidf_top_terms(docs, "doc_id", "text", top_n=3)
    return top.select(
        "doc_id", "term", "tf", "df", F.col("term_rank").cast("int").alias("term_rank")
    )


@register(
    "session_window_native",
    f"""
    WITH s AS ({_session_flags_sql(">")}),
    numbered AS (
        SELECT user_id, ts,
               SUM(st) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
        FROM s
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           strftime(MAX(ts) + INTERVAL 4 HOUR, '%Y-%m-%d %H:%M:%S')
               AS window_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM numbered GROUP BY user_id, sid
    """,
)
def q_session_window_native(spark: SparkSession, sf: str) -> DataFrame:
    """Spark's NATIVE ``session_window`` (dynamic-gap grouping inside the
    aggregate itself — the same operator structured streaming uses for
    session state) cross-validated against a hand-derived oracle.  The
    boundary is empirically pinned (tests/test_sessions.py): an event at
    exactly last + gap EXTENDS the session — split strictly on
    delta > gap, the same rule as ``operators/sessions.py`` — so both
    session gate families share one oracle text via
    ``_session_flags_sql('>')``."""
    ev = load(spark, sf, "events")
    g = ev.groupBy(
        F.session_window(F.col("ts"), "4 hours"), F.col("user_id")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    return g.select(
        "user_id",
        _fmt_ts(F.col("session_window.start")).alias("window_start"),
        _fmt_ts(F.col("session_window.end")).alias("window_end"),
        "n_events",
    )


@register(
    "prw_export_roundtrip",
    """
    SELECT 'app_' || event_type AS name,
           'job_' || CAST(user_id % 3 AS VARCHAR) AS job,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           ROUND(SUM(value), 4) AS sum_value,
           MIN(epoch_ms(ts)) AS min_ts,
           MAX(epoch_ms(ts)) AS max_ts
    FROM events
    GROUP BY 1, 2
    """,
)
def q_prw_export_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Exporter-side K2 loop: series -> prompb marshal -> snappy -> payload
    shards, then decoded BACK through the receiver path; the oracle computes
    the same aggregates straight off the raw table, so any loss or
    corruption in marshal/compress/shard breaks the gate."""
    from .plans.sinks import prw_export_payloads
    from .sources.decoders import decode_prw_write_request

    ev = load(spark, sf, "events").select(
        F.concat(F.lit("app_"), F.col("event_type")).alias("name"),
        F.create_map(
            F.lit("job"), F.concat(F.lit("job_"), (F.col("user_id") % 3))
        ).alias("labels"),
        F.col("value").cast("double").alias("value"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
    )
    payloads = prw_export_payloads(ev, n_shards=8)
    decoded = decode_prw_write_request(
        payloads.withColumnRenamed("payload", "body")
    )
    samples = decoded.select(
        F.col("labels")["__name__"].alias("name"),
        F.col("labels")["job"].alias("job"),
        F.explode("samples").alias("s"),
    )
    return samples.groupBy("name", "job").agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.round(F.sum(F.col("s.value")), 4).alias("sum_value"),
        F.min(F.col("s.ts_ms")).alias("min_ts"),
        F.max(F.col("s.ts_ms")).alias("max_ts"),
    )


@register(
    "sample_by_source",
    """
    WITH u AS (
        SELECT doc_id, source,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 15))::BIGINT
                   / 1152921504606846976.0 AS unif
        FROM documents
    )
    SELECT doc_id, source
    FROM u
    WHERE unif < CASE source WHEN 'src0' THEN 0.1
                             WHEN 'src1' THEN 0.5
                             ELSE 0.9 END
    """,
)
def q_sample_by_source(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic temperature sampling: md5-uniform keep decision, rate
    per source — stable across reruns, exactly restatable in SQL."""
    from .operators.sampling import sample_by_rates

    docs = load(spark, sf, "documents")
    out = sample_by_rates(
        docs, {"src0": 0.1, "src1": 0.5}, seed=7, default_rate=0.9
    )
    return out.select("doc_id", "source")


@register(
    "contrastive_triplets",
    """
    WITH fp AS (
        SELECT doc_id, md5(substr(text, 1, 60)) AS f FROM documents
    ), keepers AS (
        SELECT f, MIN(doc_id) AS anchor FROM fp GROUP BY 1
    ), pairs AS (
        SELECT k.anchor, d.doc_id AS positive
        FROM keepers k JOIN fp d ON k.f = d.f AND d.doc_id != k.anchor
    ), pool AS (
        SELECT doc_id AS neg,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':5'), 1, 15))
                   ::BIGINT AS h
        FROM documents ORDER BY h, neg LIMIT 64
    ), pidx AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY h, neg) - 1 AS BIGINT)
                   AS idx,
               neg
        FROM pool
    ), pn AS (SELECT CAST(COUNT(*) AS BIGINT) AS p FROM pidx),
    req AS (
        SELECT anchor, positive, CAST(i AS BIGINT) AS neg_i,
               ('0x' || substr(md5(CAST(anchor AS VARCHAR) || ':'
                    || CAST(i AS VARCHAR) || ':5'), 1, 15))::BIGINT % p
                   AS idx
        FROM pairs, (SELECT UNNEST(RANGE(1, 3)) AS i), pn
    )
    SELECT anchor, positive, neg_i, neg AS negative_id
    FROM req JOIN pidx USING (idx)
    WHERE neg != anchor AND neg != positive
    """,
)
def q_contrastive_triplets(spark: SparkSession, sf: str) -> DataFrame:
    """Contrastive training triplets (operators/sampling.py::
    contrastive_triplets): exact-dup pairs (keeper, copy) decorated with
    2 deterministic negatives each from a 64-doc md5-bottom-k broadcast
    pool — the dedup-to-training-set bridge; the oracle replays the
    pool, the modulo draw, and the collision drop."""
    from .operators.sampling import contrastive_triplets

    docs = load(spark, sf, "documents")
    fp = docs.select("doc_id", F.md5(F.substring("text", 1, 60)).alias("f"))
    keepers = fp.groupBy("f").agg(F.min("doc_id").alias("anchor"))
    pairs = keepers.join(fp, "f").where(
        F.col("doc_id") != F.col("anchor")
    ).select("anchor", F.col("doc_id").alias("positive"))
    return contrastive_triplets(
        pairs,
        docs,
        anchor_col="anchor",
        positive_col="positive",
        k_neg=2,
        pool_size=64,
        seed=5,
    )


@register(
    "corpus_vocab_stats",
    """
    WITH toks AS (
        SELECT source, unnest(string_split(lower(text), ' ')) AS tok
        FROM documents
    ), counts AS (
        SELECT source, tok, COUNT(*) AS n FROM toks GROUP BY 1, 2
    ), top AS (
        SELECT source, tok AS top_token, n AS top_count FROM counts
        QUALIFY ROW_NUMBER() OVER (PARTITION BY source
                                   ORDER BY n DESC, tok) = 1
    ), stats AS (
        SELECT source, CAST(SUM(n) AS BIGINT) AS total_tokens,
               CAST(COUNT(*) AS BIGINT) AS vocab
        FROM counts GROUP BY 1
    )
    SELECT s.source, s.total_tokens, s.vocab,
           t.top_token, CAST(t.top_count AS BIGINT) AS top_count
    FROM stats s JOIN top t USING (source)
    """,
)
def q_corpus_vocab_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source corpus vocabulary profile (token totals, distinct
    vocabulary, heaviest token) — the heavy-hitter piece uses the
    skew-proof two-phase per-group top-1, never a per-source single-task
    sort of the whole (source, token) table."""
    from .operators.partition import two_phase_top_n

    docs = load_docs_spread(spark, sf)
    toks = docs.select(
        "source", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    counts = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("n"))
    top = two_phase_top_n(
        counts, ["source"], [F.col("n").desc(), F.col("tok")], 1
    ).select("source", F.col("tok").alias("top_token"), F.col("n").alias("top_count"))
    stats = counts.groupBy("source").agg(
        F.sum("n").cast("long").alias("total_tokens"),
        F.count(F.lit(1)).alias("vocab"),
    )
    return stats.join(top, "source").select(
        "source", "total_tokens", "vocab", "top_token", "top_count"
    )


@register(
    "chunk_documents",
    """
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), c AS (
        SELECT doc_id, toks,
               CASE WHEN len(toks) <= 96 THEN 1
                    ELSE 1 + CAST(ceil((len(toks) - 96) / 64.0) AS INT)
               END AS n_chunks
        FROM t
    ), e AS (
        SELECT doc_id, toks, unnest(range(n_chunks)) AS chunk_idx FROM c
    )
    SELECT doc_id,
           CAST(chunk_idx AS BIGINT) AS chunk_idx,
           array_to_string(toks[chunk_idx*64 + 1 : chunk_idx*64 + 96], ' ')
               AS chunk_text,
           CAST(len(toks[chunk_idx*64 + 1 : chunk_idx*64 + 96]) AS BIGINT)
               AS n_tokens
    FROM e
    """,
)
def q_chunk_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Overlapping context-length chunking: 96-token chunks, 32-token
    overlap (stride 64) — split/sequence/explode/slice, all JVM."""
    from .operators.sampling import chunk_documents

    docs = load(spark, sf, "documents")
    return chunk_documents(docs, max_tokens=96, overlap=32)


@register(
    "training_pipeline_chunks",
    """
    WITH sampled AS (
        SELECT doc_id, source, text FROM documents
        WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':13'), 1, 15))::BIGINT
                  / 1152921504606846976.0
              < CASE source WHEN 'src0' THEN 0.4 ELSE 0.7 END
    ), t AS (
        SELECT doc_id, source, string_split(text, ' ') AS toks FROM sampled
    ), c AS (
        SELECT doc_id, source, toks,
               CASE WHEN len(toks) <= 16 THEN 1
                    ELSE 1 + CAST(ceil((len(toks) - 16) / 16.0) AS INT)
               END AS n_chunks
        FROM t
    ), chunks AS (
        SELECT doc_id, source, unnest(range(n_chunks)) AS chunk_idx, toks
        FROM c
    ), sized AS (
        SELECT doc_id * 1000 + chunk_idx AS chunk_uid, source,
               CAST(len(toks[chunk_idx*16 + 1 : chunk_idx*16 + 16]) AS BIGINT)
                   AS n_tokens
        FROM chunks
    ), packed AS (
        SELECT chunk_uid, source, n_tokens,
               CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY chunk_uid
                    ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT)
                   AS start_offset
        FROM sized
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(MAX(start_offset // 64) + 1 AS BIGINT) AS n_sequences,
           CAST(SUM(CASE WHEN start_offset // 64
                         != (start_offset + n_tokens - 1) // 64
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_straddling
    FROM packed GROUP BY source
    """,
)
def q_training_pipeline_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus prep v3 — the round-3 operators composed end-to-end:
    deterministic temperature sampling -> 16-token chunking -> two-level
    sequence packing at a 64-token budget -> per-source packing stats.
    Every stage is the production operator; the oracle replays the chain.
    chunk_uid = doc_id*1000 + chunk_idx keeps (doc, chunk) order inside
    one numeric packing key (chunks/doc < 1000 at the 16-token size)."""
    from .operators.sampling import chunk_documents, pack_sequences, sample_by_rates

    docs = load_docs_spread(spark, sf)
    sampled = sample_by_rates(docs, {"src0": 0.4}, seed=13, default_rate=0.7)
    chunks = chunk_documents(sampled.select("doc_id", "source", "text"), 16, 0)
    # chunk_documents keeps id + chunk columns; re-attach source by doc
    chunks = chunks.join(
        sampled.select("doc_id", "source"), "doc_id"
    ).select(
        (F.col("doc_id") * 1000 + F.col("chunk_idx")).alias("chunk_uid"),
        "source",
        "n_tokens",
    )
    # persist_input: the sampling+chunking subplan would otherwise run
    # twice (once for the eager shard-boundary sketch, once for the real
    # pass — ADVICE r3).
    packed = pack_sequences(
        chunks, budget=64, id_col="chunk_uid", token_col="n_tokens",
        persist_input=True,
    )
    return packed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        (F.max("seq_id") + 1).cast("long").alias("n_sequences"),
        F.sum(F.col("straddles").cast("int")).cast("long").alias("n_straddling"),
    )


@register(
    "sample_exact_quota",
    """
    WITH h AS (
        SELECT doc_id, source,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':5'), 1, 15))::BIGINT
                   AS ord
        FROM documents
    )
    SELECT doc_id, source FROM h
    QUALIFY ROW_NUMBER() OVER (PARTITION BY source ORDER BY ord, doc_id)
            <= CASE source WHEN 'src0' THEN 5 WHEN 'src1' THEN 12 ELSE 7 END
    """,
)
def q_sample_exact_quota(spark: SparkSession, sf: str) -> DataFrame:
    """Exact per-source quota sampling (the curated-mix form of sampling):
    first `quota` rows of each source in deterministic md5-hash order, via
    the skew-proof two-phase top-N — no single-task source windows."""
    from .operators.sampling import sample_exact_quota

    docs = load(spark, sf, "documents")
    out = sample_exact_quota(
        docs, {"src0": 5, "src1": 12}, seed=5, default_quota=7
    )
    return out.select("doc_id", "source")


@register(
    "sample_priority",
    """
    WITH pri AS (
        SELECT doc_id, CAST(length(text) AS BIGINT) AS w,
               CAST(length(text) AS DOUBLE) / (
                   (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 15))::BIGINT + 1)
                   / 1152921504606846976.0
               ) AS q
        FROM documents
        WHERE length(text) > 0
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY q DESC, doc_id) AS rn FROM pri
    ), tau AS (
        SELECT COALESCE(MAX(CASE WHEN rn = 51 THEN q END), 0.0) AS tau
        FROM ranked
    )
    SELECT r.doc_id, r.w,
           CAST(FLOOR(GREATEST(CAST(r.w AS DOUBLE), t.tau) * 1000 + 0.5) AS BIGINT)
               AS est_milli,
           CAST(FLOOR(t.tau * 1000 + 0.5) AS BIGINT) AS tau_milli
    FROM ranked r CROSS JOIN tau t
    WHERE r.rn <= 50
    """,
)
def q_sample_priority(spark: SparkSession, sf: str) -> DataFrame:
    """Priority sampling (Duffield-Lund-Thorup): weighted size-50 sample
    of documents by byte length with the unbiased max(w, tau) subset-sum
    estimator — two bounded TakeOrderedAndProject passes, no global sort."""
    from .operators.sampling import priority_sample

    docs = load(spark, sf, "documents").select(
        "doc_id", F.length("text").cast("long").alias("w")
    )
    return priority_sample(docs, k=50, weight_col="w", id_col="doc_id", seed=7)


@register(
    "pack_sequences",
    """
    WITH t AS (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ), c AS (
        SELECT doc_id, source, n_tokens,
               CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT)
                   AS start_offset
        FROM t
    )
    SELECT doc_id, source, n_tokens, start_offset,
           start_offset // 256 AS seq_id,
           (start_offset + n_tokens - 1) // 256 AS end_seq_id,
           start_offset // 256 != (start_offset + n_tokens - 1) // 256
               AS straddles
    FROM c
    """,
)
def q_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """Concat-and-chunk sequence packing at a 256-token budget, per
    source — one window cumulative sum, sources pack independently."""
    from .functions.textstats import token_count_ws
    from .operators.sampling import pack_sequences

    docs = load(spark, sf, "documents").select(
        "doc_id", "source", token_count_ws(F.col("text")).cast("long").alias("n_tokens")
    )
    return pack_sequences(docs, budget=256)


@register(
    "training_pipeline_full",
    """
    WITH t AS (
        SELECT doc_id, source, text,
               string_split(text, ' ')[1:512] AS toks
        FROM documents
    ), c AS (
        SELECT doc_id, source, text, toks,
               array_to_string(toks, ' ') AS capped,
               list_transform(
                   range(0, CAST(ceil(len(toks) / 8.0) AS INT)),
                   i -> array_to_string(toks[i*8+1:i*8+8], ' ')) AS lines,
               CASE WHEN len(toks) >= 2
                    THEN list_transform(range(1, len(toks)),
                                        i -> toks[i] || ' ' || toks[i+1])
                    ELSE [] END AS bigrams
        FROM t
    ), rep AS (
        SELECT doc_id, source, text,
               ROUND(1 - len(list_distinct(lines)) / CAST(len(lines) AS DOUBLE), 4)
                   AS dup_line_frac,
               CASE WHEN len(bigrams) > 0 THEN
                   ROUND(1 - len(list_distinct(bigrams)) / CAST(len(bigrams) AS DOUBLE), 4)
               ELSE 0.0 END AS dup_bigram_frac
        FROM c
    ), hygienic AS (
        SELECT * FROM rep
        WHERE dup_line_frac <= 0.5 AND dup_bigram_frac <= 0.6
    ), sampled AS (
        SELECT * FROM hygienic
        WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':11'), 1, 15))::BIGINT
                  / 1152921504606846976.0
              < CASE source WHEN 'src0' THEN 0.3 WHEN 'src1' THEN 0.3
                            ELSE 0.8 END
    ), scrubbed AS (
        SELECT source, dup_bigram_frac,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                           '<EMAIL>', 'g'),
                       '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
                       '<IPV4>', 'g'),
                   '\\+\\d{7,15}', '<PHONE>', 'g') AS text
        FROM sampled
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           ROUND(AVG(dup_bigram_frac), 4) AS avg_dup_bigram
    FROM scrubbed GROUP BY source
    """,
)
def q_training_pipeline_full(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end corpus preparation: repetition-filter hygiene ->
    deterministic temperature sampling -> PII scrub -> per-source stats.
    Every stage is the production operator; the oracle replays the whole
    chain in SQL."""
    from .functions.textstats import token_count_ws
    from .functions.webtext import add_repetition_features, pii_scrub
    from .operators.sampling import sample_by_rates

    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    rep = add_repetition_features(docs, "text", chunk_size=8, max_tokens=512)
    hygienic = rep.filter(
        (F.col("dup_line_frac") <= 0.5) & (F.col("dup_bigram_frac") <= 0.6)
    )
    sampled = sample_by_rates(
        hygienic, {"src0": 0.3, "src1": 0.3}, seed=11, default_rate=0.8
    )
    scrubbed = sampled.select(
        "source", "dup_bigram_frac", pii_scrub(F.col("text")).alias("text")
    )
    return scrubbed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count_ws(F.col("text"))).cast("long").alias("n_tokens"),
        F.round(F.avg("dup_bigram_frac"), 4).alias("avg_dup_bigram"),
    )


# ---------------------------------------------------------------------------
# Bloom-prefiltered decontamination: same exact 13-gram rule as
# decontaminate_ngrams (the oracle IS the exact-join SQL — Bloom adds no
# false negatives and the verify join kills false positives), but the
# corpus-side gram stream is prefiltered by a broadcast 128 KB bitmap
# before any join.  Different benchmark slice so the two gates are
# independent fixtures.
# ---------------------------------------------------------------------------
@register(
    "decontaminate_bloom",
    """
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ), bench AS (
        SELECT DISTINCT array_to_string(t[1:13], ' ') AS gram
        FROM toks WHERE doc_id % 89 = 1 AND len(t) >= 13
    ), grams AS (
        SELECT doc_id,
               unnest(list_distinct(
                   CASE WHEN len(t) >= 13
                        THEN list_transform(range(1, len(t) - 11),
                                            i -> array_to_string(t[i:i+12], ' '))
                        ELSE [] END)) AS gram
        FROM toks
    )
    SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM grams g JOIN bench b USING (gram)
    GROUP BY g.doc_id
    """,
)
def q_decontaminate_bloom(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.dedup import contaminated_ids_bloom, contamination_ngrams

    docs = load_docs_spread(spark, sf)
    bench = contamination_ngrams(docs.where(F.col("doc_id") % 89 == 1), n=13)
    return contaminated_ids_bloom(docs, bench, n=13)


# ---------------------------------------------------------------------------
# Exact-substring document dedup (Lee et al. 2022 ExactSubstr cut to
# overlapping w-token windows).  The engine shuffles 8-byte xxhash64 window
# keys (the production path); the oracle groups the window STRINGS — the
# gate therefore also certifies the hash introduces no collisions on this
# corpus.
# ---------------------------------------------------------------------------
@register(
    "dedup_substring",
    """
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ), grams AS (
        SELECT doc_id,
               unnest(list_distinct(
                   CASE WHEN len(t) >= 15
                        THEN list_transform(range(1, len(t) - 13),
                                            i -> array_to_string(t[i:i+14], ' '))
                        ELSE [] END)) AS gram
        FROM toks
    ), own AS (
        SELECT gram, MIN(doc_id) AS owner FROM grams GROUP BY gram
    )
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_dup_windows,
           MIN(o.owner) AS earliest_owner
    FROM grams g JOIN own o USING (gram)
    WHERE o.owner < g.doc_id
    GROUP BY g.doc_id
    """,
)
def q_dedup_substring(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.dedup import substring_dup_docs

    docs = load_docs_spread(spark, sf)
    return substring_dup_docs(docs, w=15, engine="xxhash")


# ---------------------------------------------------------------------------
# DSIR importance scores: integer micro-nat log-ratio weights, exact BIGINT
# dot product — the per-bucket lambda table is computed driver-side in
# Python and restated by the oracle from scratch, so the gate pins the
# whole chain (tokenize -> hash-bucket -> histograms -> smoothing ->
# floor(1e6*ln) -> sum).
# ---------------------------------------------------------------------------
@register(
    "dsir_importance",
    """
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ), feats AS (
        SELECT doc_id, unnest(t) AS feat FROM toks
        UNION ALL
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i+1])) AS feat
        FROM toks
    ), bk AS (
        SELECT doc_id,
               ('0x' || substr(md5(feat || ':0'), 1, 15))::BIGINT % 1024 AS b
        FROM feats
    ), tot AS (
        SELECT COUNT(*) AS p_tot,
               COUNT(*) FILTER (WHERE doc_id % 31 = 5) AS q_tot
        FROM bk
    ), hist AS (
        SELECT b, COUNT(*) AS p,
               COUNT(*) FILTER (WHERE doc_id % 31 = 5) AS q
        FROM bk GROUP BY b
    ), lam AS (
        SELECT r.range AS b,
               CAST(FLOOR(1000000.0 * ln(
                   ((COALESCE(h.q, 0) + 1) / (t.q_tot + 1024.0))
                   / ((COALESCE(h.p, 0) + 1) / (t.p_tot + 1024.0))))
                   AS BIGINT) AS lam
        FROM range(0, 1024) r
        LEFT JOIN hist h ON h.b = r.range
        CROSS JOIN tot t
    )
    SELECT bk.doc_id, CAST(SUM(l.lam) AS BIGINT) AS score_micro
    FROM bk JOIN lam l USING (b)
    GROUP BY bk.doc_id
    """,
)
def q_dsir_importance(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.sampling import dsir_importance_scores

    docs = load_docs_spread(spark, sf)
    target = docs.where(F.col("doc_id") % 31 == 5)
    return dsir_importance_scores(docs, target, buckets=1024, engine="md5")


# ---------------------------------------------------------------------------
# DSIR importance RESAMPLING: Gumbel-top-k over the micro-nat scores — the
# oracle replays the whole chain (scores CTE is the dsir_importance SQL
# verbatim, then the identical integer sample key) so the gate pins
# score -> noise -> floor -> top-k end to end.  2^60 = 1152921504606846976.
# ---------------------------------------------------------------------------
def _dsir_resample_sql() -> str:
    return f"""
    WITH scores AS ({ORACLE_SQL["dsir_importance"]}),
    keyed AS (
        SELECT doc_id, score_micro,
               score_micro + CAST(FLOOR(1000000.0 * -ln(-ln(
                   (('0x' || substr(md5(doc_id || ':7'), 1, 15))::BIGINT
                    + 0.5) / 1152921504606846976.0
               ))) AS BIGINT) AS key_micro
        FROM scores
    )
    SELECT doc_id, score_micro, key_micro
    FROM keyed ORDER BY key_micro DESC, doc_id LIMIT 200
    """


@register("dsir_resample", None)
def q_dsir_resample(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.sampling import dsir_importance_scores, importance_resample

    docs = load_docs_spread(spark, sf)
    target = docs.where(F.col("doc_id") % 31 == 5)
    scores = dsir_importance_scores(docs, target, buckets=1024, engine="md5")
    return importance_resample(scores, k=200, seed=7)


ORACLE_SQL["dsir_resample"] = _dsir_resample_sql()


# ---------------------------------------------------------------------------
# CCNet-style LM perplexity filter: add-1 bigram LM trained on a target
# slice, scoring every document in integer micro-nats.  The oracle
# retrains the LM from scratch in SQL (counts, V, smoothing, floor(1e6*ln),
# BIGINT sum), so the gate pins the whole train+score chain.  avg_logprob
# is two IEEE divisions over exact integers — cross-engine safe.
# ---------------------------------------------------------------------------
@register(
    "lm_perplexity_scores",
    """
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ), uni AS (
        SELECT w1, COUNT(*) AS c1 FROM (
            SELECT unnest(t) AS w1 FROM toks WHERE doc_id % 23 = 3
        ) WHERE w1 <> '' GROUP BY w1
    ), v AS (
        SELECT COUNT(*) + 1 AS vocab FROM uni
    ), bi AS (
        SELECT p[1] AS w1, p[2] AS w2, COUNT(*) AS c2 FROM (
            SELECT unnest(list_transform(range(1, len(t)),
                                         i -> [t[i], t[i+1]])) AS p
            FROM toks WHERE doc_id % 23 = 3
        ) GROUP BY 1, 2
    ), occ AS (
        SELECT doc_id, p[1] AS w1, p[2] AS w2 FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(t)),
                                         i -> [t[i], t[i+1]])) AS p
            FROM toks
        )
    ), lp AS (
        SELECT occ.doc_id,
               CAST(FLOOR(1000000.0 * ln(
                   CAST(COALESCE(bi.c2, 0) + 1 AS DOUBLE)
                   / CAST(COALESCE(uni.c1, 0) + v.vocab AS DOUBLE)
               )) AS BIGINT) AS lp
        FROM occ
        LEFT JOIN bi ON bi.w1 = occ.w1 AND bi.w2 = occ.w2
        LEFT JOIN uni ON uni.w1 = occ.w1
        CROSS JOIN v
    )
    SELECT doc_id,
           CAST(SUM(lp) AS BIGINT) AS score_micro,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           (CAST(SUM(lp) AS DOUBLE) / COUNT(*)) / 1000000.0 AS avg_logprob
    FROM lp GROUP BY doc_id
    """,
)
def q_lm_perplexity_scores(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.lm import bigram_lm_scores

    docs = load_docs_spread(spark, sf)
    target = docs.where(F.col("doc_id") % 23 == 3)
    return bigram_lm_scores(docs, target)


# no SQL oracle: BPE learning is inherently iterative (each argmax depends
# on the previous merge) — correctness is pinned by golden parity with a
# pure-Python reference implementation (tests/test_bpe.py); the gate
# checks determinism of the learned merge table's shape on real docs
@register("bpe_learn_merges")
def q_bpe_learn_merges(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.bpe import learn_bpe_merges

    docs = load_docs_spread(spark, sf)
    merges = learn_bpe_merges(docs, n_merges=16)
    return spark.createDataFrame(
        [(i, a, b, a + b) for i, (a, b) in enumerate(merges)],
        "rank long, first string, second string, merged string",
    )


# ---------------------------------------------------------------------------
# Streaming at-least-once replay suppression: the same events file is
# delivered TWICE as two micro-batches (maxFilesPerTrigger=1), the stateful
# dropDuplicates stream suppresses the replay across the batch boundary,
# and the oracle is the plain batch aggregate over the ORIGINAL table —
# stream-over-duplicated-input == batch-over-clean-input is the gate.
# ---------------------------------------------------------------------------
@register(
    "streaming_dedup_exact",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS value_sum
    FROM events GROUP BY event_type
    """,
)
def q_streaming_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    import shutil
    import tempfile

    from .streaming.dedup import dedup_stream

    schema = spark.read.parquet(f"{sf}/events.parquet").schema
    src = tempfile.mkdtemp(prefix="dedup_replay_")
    # at-least-once redelivery fixture: the same file lands twice
    shutil.copyfile(f"{sf}/events.parquet", f"{src}/delivery0.parquet")
    shutil.copyfile(f"{sf}/events.parquet", f"{src}/delivery1.parquet")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    deduped = dedup_stream(stream, ["event_id"])
    try:
        out = _run_stream_gate(
            spark, deduped, "stream_gate_dedup_exact", mode="append"
        )
    finally:
        shutil.rmtree(src, ignore_errors=True)
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("value_sum"),
    )


@register(
    "sample_assign_splits",
    """
    WITH u AS (
        SELECT doc_id, source,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':11'), 1, 15))::BIGINT
                   / 1152921504606846976.0 AS unif
        FROM documents
    )
    SELECT doc_id, source,
           CASE WHEN unif < 0.98 THEN 'train'
                WHEN unif < 0.99 THEN 'val'
                ELSE 'test' END AS split
    FROM u
    """,
)
def q_sample_assign_splits(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic train/val/test assignment: the seeded md5 uniform of
    the doc id falls into cumulative weight ranges — a pure function of
    (id, seed), so held-out sets are stable across reruns and corpus
    growth (no random(), no shuffle, scan-fused CASE)."""
    from .operators.sampling import assign_splits

    docs = load(spark, sf, "documents")
    return assign_splits(docs, seed=11).select("doc_id", "source", "split")


@register(
    "semantic_dedup",
    """
    WITH cents AS (
        SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cv
        FROM embeddings WHERE vec_id < 25
    ), assigned AS (
        SELECT e.vec_id, e.embedding::DOUBLE[] AS v, c.centroid_id
        FROM embeddings e CROSS JOIN cents c
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY e.vec_id
            ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], c.cv), 6) DESC,
                     c.centroid_id) = 1
    ), removed AS (
        SELECT DISTINCT b.vec_id
        FROM assigned a JOIN assigned b
          ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
        WHERE ROUND(list_cosine_similarity(a.v, b.v), 4) >= 0.35
    )
    SELECT vec_id, centroid_id AS cluster_id FROM assigned
    WHERE vec_id NOT IN (SELECT vec_id FROM removed)
    """,
)
def q_semantic_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup (arXiv:2303.09540): cluster-then-dedup in embedding space —
    the quadratic pair search runs only within a cluster (equi-join on the
    broadcast-literal centroid assignment), never corpus x corpus.  25
    centroids: pair volume is ~n^2/k, so the cluster count is the lever
    that keeps the within-cluster search linear-ish as the corpus grows
    (paper-scale k ~ sqrt(n))."""
    from .operators.similarity import semantic_dedup_survivors

    emb = load(spark, sf, "embeddings")
    cents = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 25).collect()
    ]
    return semantic_dedup_survivors(emb, cents, threshold=0.35).select(
        "vec_id", "cluster_id"
    )


@register("semantic_dedup_vec")  # rows-only: numpy blocked-sum cosine can
# differ from the JVM fold in the last ulp at the rounded threshold, so no
# bit-exact SQL restatement is promised; pytest pins pair-set equality with
# the exact form away from the boundary
def q_semantic_dedup_vec(spark: SparkSession, sf: str) -> DataFrame:
    """Vectorized SemDeDup scale path: per-cluster Arrow-batched numpy
    matmul (applyInPandas) instead of per-pair interpreted zip_with."""
    from .operators.similarity import semantic_dedup_pairs_vectorized

    emb = load(spark, sf, "embeddings")
    cents = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 25).collect()
    ]
    pairs = semantic_dedup_pairs_vectorized(emb, cents, threshold=0.35)
    return pairs.select("id_a", "id_b", "cluster_id", F.round("cos_sim", 4).alias("cos_sim"))


def _keep_best_oracle_sql() -> str:
    """Quality-keep over the same reachability components as
    ``near_dedup_components`` (minhash pairs only, no planted graphs),
    argmax char-length per component, singletons pass through."""
    return f"""
    WITH RECURSIVE mh AS (
        SELECT id_a, id_b FROM ({ORACLE_SQL["dedup_minhash_lsh_md5"]}) t
    ),
    und AS (
        SELECT id_a AS src, id_b AS dst FROM mh
        UNION ALL SELECT id_b, id_a FROM mh
    ),
    reach AS (
        SELECT DISTINCT src AS id, src AS label FROM und
        UNION
        SELECT u.src AS id, r.label FROM und u JOIN reach r ON r.id = u.dst
    ),
    comp AS (SELECT id AS doc_id, MIN(label) AS component FROM reach GROUP BY id),
    scored AS (
        SELECT doc_id, CAST(len(text) AS BIGINT) AS quality FROM documents
    ),
    best AS (
        SELECT s.doc_id, c.component, s.quality
        FROM scored s JOIN comp c USING (doc_id)
        QUALIFY ROW_NUMBER() OVER (PARTITION BY c.component
                                   ORDER BY s.quality DESC, s.doc_id) = 1
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(component AS BIGINT) AS component, quality
    FROM best
    UNION ALL
    SELECT doc_id, doc_id AS component, quality FROM scored
    WHERE doc_id NOT IN (SELECT doc_id FROM comp)
    """


@register("near_dedup_keep_best", _keep_best_oracle_sql())
def q_near_dedup_keep_best(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-aware near-dup removal: transitive minhash clusters, keep
    the longest document per cluster (skew-proof two-phase top-1), pass
    singletons through — the production survivor policy when copies
    differ in quality."""
    from .operators.dedup import (
        keep_best_per_component,
        minhash_lsh_pairs,
        near_dedup_components,
    )

    docs = load_docs_spread(spark, sf)
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.2, engine="md5"
    ).select("id_a", "id_b")
    comp = near_dedup_components(pairs)
    scored = docs.withColumn("quality", F.length("text").cast("long"))
    return keep_best_per_component(scored, comp, "quality").select(
        "doc_id", "component", "quality"
    )


def _planted_incremental_batch(docs: DataFrame) -> DataFrame:
    """The planted new-batch fixture shared by the incremental-dedup
    gates: 80%-truncated corpus copies (cross-match drops), reversed-token
    twins (within-match drops the higher id), reversed-token singletons
    (survive)."""
    toks = F.split(F.col("text"), " ")
    n80 = F.greatest(F.floor(F.size(toks) * 4 / 5).cast("int"), F.lit(1))
    trunc = F.array_join(F.slice(toks, 1, n80), " ").alias("text")
    rev = F.array_join(F.reverse(toks), " ").alias("text")
    did = F.col("doc_id")
    return (
        docs.where(did % 50 == 0).select((did + 1000000).alias("doc_id"), trunc)
        .unionByName(
            docs.where(did % 40 == 1).select((did + 2000000).alias("doc_id"), rev)
        )
        .unionByName(
            docs.where(did % 40 == 1).select((did + 3000000).alias("doc_id"), rev)
        )
        .unionByName(
            docs.where(did % 60 == 7).select((did + 4000000).alias("doc_id"), rev)
        )
    )


@register(
    "dedup_fuzzy_incremental",
    """
    WITH batch AS (
        SELECT doc_id + 1000000 AS doc_id,
               array_to_string(
                   string_split(text, ' ')[1:greatest((len(string_split(text, ' ')) * 4) // 5, 1)],
                   ' ') AS text
        FROM documents WHERE doc_id % 50 = 0
        UNION ALL
        SELECT doc_id + 2000000,
               array_to_string(list_reverse(string_split(text, ' ')), ' ')
        FROM documents WHERE doc_id % 40 = 1
        UNION ALL
        SELECT doc_id + 3000000,
               array_to_string(list_reverse(string_split(text, ' ')), ' ')
        FROM documents WHERE doc_id % 40 = 1
        UNION ALL
        SELECT doc_id + 4000000,
               array_to_string(list_reverse(string_split(text, ' ')), ' ')
        FROM documents WHERE doc_id % 60 = 7
    ),
    all_docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL SELECT doc_id, text FROM batch
    ),
    toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM all_docs
    ),
    sh AS (
        SELECT doc_id,
               list_distinct([array_to_string(t[i:i+2], chr(1)) for i in range(1, len(t) - 1)]) AS shingles
        FROM toks WHERE len(t) >= 3
    ),
    ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    hashed AS (
        SELECT doc_id, seeds.seed,
               ('0x' || substr(md5(shingle || ':' || seeds.seed), 1, 15))::BIGINT AS h
        FROM ex CROSS JOIN (SELECT unnest(range(32)) AS seed) seeds
    ),
    mins AS (SELECT doc_id, seed, MIN(h) AS mh FROM hashed GROUP BY 1, 2),
    bands AS (
        SELECT doc_id, seed // 4 AS band,
               md5(string_agg(mh::VARCHAR, ',' ORDER BY seed)) AS bh
        FROM mins GROUP BY doc_id, seed // 4
    ),
    cross_cand AS (
        SELECT DISTINCT e.doc_id AS old_id, n.doc_id AS new_id
        FROM bands e JOIN bands n ON e.band = n.band AND e.bh = n.bh
        WHERE e.doc_id < 1000000 AND n.doc_id >= 1000000
    ),
    within_cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
        WHERE a.doc_id >= 1000000 AND b.doc_id >= 1000000
          AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY 1),
    cross_hits AS (
        SELECT DISTINCT new_id
        FROM (
            SELECT c.old_id, c.new_id, COUNT(*) AS n_common
            FROM cross_cand c
            JOIN ex ea ON ea.doc_id = c.old_id
            JOIN ex eb ON eb.doc_id = c.new_id AND eb.shingle = ea.shingle
            GROUP BY 1, 2
        ) cc
        JOIN sizes sa ON sa.doc_id = cc.old_id
        JOIN sizes sb ON sb.doc_id = cc.new_id
        WHERE ROUND(cc.n_common / (sa.n + sb.n - cc.n_common), 4) >= 0.2
    ),
    within_hits AS (
        SELECT DISTINCT id_b AS new_id
        FROM (
            SELECT c.id_a, c.id_b, COUNT(*) AS n_common
            FROM within_cand c
            JOIN ex ea ON ea.doc_id = c.id_a
            JOIN ex eb ON eb.doc_id = c.id_b AND eb.shingle = ea.shingle
            GROUP BY 1, 2
        ) wc
        JOIN sizes sa ON sa.doc_id = wc.id_a
        JOIN sizes sb ON sb.doc_id = wc.id_b
        WHERE ROUND(wc.n_common / (sa.n + sb.n - wc.n_common), 4) >= 0.2
    )
    SELECT doc_id, text FROM batch
    WHERE doc_id NOT IN (SELECT new_id FROM cross_hits
                         UNION SELECT new_id FROM within_hits)
    """,
)
def q_dedup_fuzzy_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental fuzzy dedup over a planted batch that exercises every
    branch: 80%-truncated corpus copies (must drop via the corpus match),
    reversed-token twins (must drop via the within-batch match, lower id
    survives), and reversed-token singletons (must survive) — so the gate
    proves recall on both joins, not agreement on an empty result."""
    from .operators.dedup import fuzzy_dedup_incremental

    docs = load_docs_spread(spark, sf)
    batch = _planted_incremental_batch(docs)
    out = fuzzy_dedup_incremental(batch, docs, threshold=0.2, engine="md5")
    return out.select("doc_id", "text")


def _incremental_pipeline_oracle_sql() -> str:
    """The whole incremental-maintenance chain replayed in SQL: fuzzy
    incremental dedup (verbatim CTE reuse) -> split assignment -> per-split
    corpus stats."""
    return f"""
    WITH survivors AS ({ORACLE_SQL["dedup_fuzzy_incremental"]}),
    u AS (
        SELECT doc_id, text,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':11'), 1, 15))::BIGINT
                   / 1152921504606846976.0 AS unif
        FROM survivors
    ),
    s AS (
        SELECT doc_id, text,
               CASE WHEN unif < 0.9 THEN 'train'
                    WHEN unif < 0.95 THEN 'val'
                    ELSE 'test' END AS split
        FROM u
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_id,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
    FROM s GROUP BY split
    """


@register("training_pipeline_incremental", _incremental_pipeline_oracle_sql())
def q_training_pipeline_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Composed production loop for a GROWING corpus: incremental fuzzy
    dedup of the planted batch against the accepted corpus, deterministic
    split assignment of the survivors, per-split acceptance stats — every
    stage the production operator, the whole chain replayed in SQL."""
    from .operators.dedup import fuzzy_dedup_incremental
    from .operators.sampling import assign_splits

    docs = load_docs_spread(spark, sf)
    batch = _planted_incremental_batch(docs)
    accepted = fuzzy_dedup_incremental(batch, docs, threshold=0.2, engine="md5")
    split = assign_splits(
        accepted, [("train", 0.9), ("val", 0.05), ("test", 0.05)], seed=11
    )
    return split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
        F.sum(F.size(F.split(F.col("text"), " "))).cast("long").alias("total_tokens"),
    )


def _split_case_sql(key_expr: str, seed: int) -> str:
    """The assign_splits CASE (0.8/0.1/0.1) over an arbitrary key
    expression — shared by the leakage-audit and safe-splits oracles."""
    return f"""
        CASE WHEN ('0x' || substr(md5(CAST({key_expr} AS VARCHAR) || ':{seed}'), 1, 15))::BIGINT
                  / 1152921504606846976.0 < 0.8 THEN 'train'
             WHEN ('0x' || substr(md5(CAST({key_expr} AS VARCHAR) || ':{seed}'), 1, 15))::BIGINT
                  / 1152921504606846976.0 < 0.9 THEN 'val'
             ELSE 'test' END
    """


@register(
    "split_leakage_audit",
    f"""
    WITH mh AS (
        SELECT id_a, id_b FROM ({ORACLE_SQL["dedup_minhash_lsh_md5"]}) t
    ),
    s AS (
        SELECT doc_id, {_split_case_sql("doc_id", 3)} AS split FROM documents
    )
    SELECT m.id_a, m.id_b, sa.split AS split_a, sb.split AS split_b
    FROM mh m
    JOIN s sa ON sa.doc_id = m.id_a
    JOIN s sb ON sb.doc_id = m.id_b
    WHERE sa.split <> sb.split
    """,
)
def q_split_leakage_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Eval-contamination audit: id-hashed split assignment + the real
    minhash near-dup pair list -> every pair straddling two splits (the
    channel through which test answers leak into train).  Non-empty by
    construction on this corpus — the audit proves detection, and the
    grouped-assignment gate proves the fix."""
    from .operators.dedup import minhash_lsh_pairs
    from .operators.sampling import assign_splits, split_leakage_pairs

    docs = load_docs_spread(spark, sf)
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.2, engine="md5"
    )
    splits = assign_splits(
        docs, [("train", 0.8), ("val", 0.1), ("test", 0.1)], seed=3
    )
    return split_leakage_pairs(pairs, splits)


def _safe_splits_oracle_sql() -> str:
    return f"""
    WITH RECURSIVE mh AS (
        SELECT id_a, id_b FROM ({ORACLE_SQL["dedup_minhash_lsh_md5"]}) t
    ),
    und AS (
        SELECT id_a AS src, id_b AS dst FROM mh
        UNION ALL SELECT id_b, id_a FROM mh
    ),
    reach AS (
        SELECT DISTINCT src AS id, src AS label FROM und
        UNION
        SELECT u.src AS id, r.label FROM und u JOIN reach r ON r.id = u.dst
    ),
    comp AS (SELECT id AS doc_id, MIN(label) AS component FROM reach GROUP BY id),
    keyed AS (
        SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS kk
        FROM documents d LEFT JOIN comp c USING (doc_id)
    )
    SELECT doc_id, {_split_case_sql("kk", 3)} AS split FROM keyed
    """


@register("sample_assign_splits_safe", _safe_splits_oracle_sql())
def q_sample_assign_splits_safe(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-safe splits: hash the near-dup COMPONENT label instead of
    the doc id, so every linked document lands in one split — the fix for
    what `split_leakage_audit` detects (a test pins zero residual
    leakage)."""
    from .operators.dedup import minhash_lsh_pairs, near_dedup_components
    from .operators.sampling import assign_splits_grouped

    docs = load_docs_spread(spark, sf)
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.2, engine="md5"
    ).select("id_a", "id_b")
    comp = near_dedup_components(pairs)
    out = assign_splits_grouped(
        docs, comp, [("train", 0.8), ("val", 0.1), ("test", 0.1)], seed=3
    )
    return out.select("doc_id", "split")


@register(
    "unimax_mixture",
    """
    WITH counts AS (
        SELECT source,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
        FROM documents GROUP BY 1
    ),
    t AS (
        SELECT source, tokens AS supply, tokens * 2 AS cap,
               ROW_NUMBER() OVER (ORDER BY tokens * 2, source) AS idx,
               SUM(tokens * 2) OVER (ORDER BY tokens * 2, source) AS cum,
               COUNT(*) OVER () AS n
        FROM counts
    ),
    s AS (
        SELECT *, (cap * (n - idx + 1)) <= (52000 - (cum - cap)) AS sat
        FROM t
    ),
    a AS (
        SELECT COALESCE(MAX(CASE WHEN sat THEN idx END), 0) AS k,
               COALESCE(MAX(CASE WHEN sat THEN cum END), 0) AS cumk
        FROM s
    ),
    alloc AS (
        SELECT s.source, s.supply, s.cap,
               CASE WHEN s.idx <= a.k THEN s.cap
                    ELSE LEAST(s.cap,
                               CAST(FLOOR((52000 - a.cumk) / (s.n - a.k)) AS BIGINT))
               END AS alloc
        FROM s CROSS JOIN a
    )
    SELECT source,
           CAST(supply AS BIGINT) AS supply_tokens,
           CAST(cap AS BIGINT) AS cap_tokens,
           CAST(alloc AS BIGINT) AS alloc_tokens,
           CASE WHEN supply > 0
                THEN CAST(FLOOR(alloc * 1000000.0 / supply) AS BIGINT)
           END AS epochs_micro
    FROM alloc
    """,
)
def q_unimax_mixture(spark: SparkSession, sf: str) -> DataFrame:
    """UniMax mixture design: one corpus aggregate (per-source token
    supply), then exact integer waterfilling of a 52k-token budget at
    max 2 epochs per source — low-supply sources saturate at their cap,
    the rest share the floored water level."""
    from .operators.sampling import unimax_allocation

    docs = load(spark, sf, "documents")
    counts = docs.groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " "))).cast("long").alias("tokens")
    )
    return unimax_allocation(counts, budget=52000, max_epochs=2)


# ---------------------------------------------------------------------------
# TPC-H completion batch (§2.7 query surface): the remaining TPC-H query
# *shapes* over the driver's slimmed schema.  The testdata has no partsupp
# table and lineitem lacks commitdate/receiptdate/shipmode, so q2/q4/q9/
# q11/q12/q13/q16/q20/q21/q22 are honest adaptations (noted per-query: the
# partsupp-derived relations come from lineitem, lateness from shipdate,
# q13's comment filter from order priority) that keep the
# reference query's *plan shape* — semi/anti joins, correlated scalar
# subqueries, disjunctive predicate pushdown, two-level aggregation — which
# is what matters for engine parity.  Scale notes: part (SF*200k rows),
# supplier (SF*10k) and nation/region are broadcast dims at any realistic
# SF; lineitem->orders joins shuffle on the order key only.
# ---------------------------------------------------------------------------
@register(
    "tpch_q4",
    """
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY 1
    """,
)
def q_tpch_q4(spark: SparkSession, sf: str) -> DataFrame:
    """Q4 order-priority checking, adapted: the schema has no
    l_commitdate/l_receiptdate, so "late" = shipped >60 days after the
    order date.  Shape preserved: EXISTS -> left-semi join with a
    non-equi residual condition on the equi order key."""
    orders = load(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    late = (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
    return (
        orders.join(li, (orders.o_orderkey == li.l_orderkey) & late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "tpch_q7",
    """
    SELECT supp_nation, cust_nation, l_year, ROUND(SUM(volume), 4) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             EXTRACT(year FROM l.l_shipdate) AS l_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
          OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01'
                             AND TIMESTAMP '1997-12-31'
    ) GROUP BY 1, 2, 3
    """,
)
def q_tpch_q7(spark: SparkSession, sf: str) -> DataFrame:
    """Q7 volume shipping between two nations.  Fact-fact join shuffles
    on the order key once; supplier/customer/nation are broadcast dims.
    The two-nation disjunction is applied post-join on broadcast-joined
    attributes (both engines agree on the surviving pairs)."""
    li = load(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") <= "1997-12-31")
    )
    orders = load(spark, sf, "orders").select("o_orderkey", "o_custkey")
    supp = load(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    cust = load(spark, sf, "customer").select("c_custkey", "c_nationkey")
    nat = load(spark, sf, "nation").select("n_nationkey", "n_name")
    n1 = nat.withColumnRenamed("n_name", "supp_nation").withColumnRenamed("n_nationkey", "_snk")
    n2 = nat.withColumnRenamed("n_name", "cust_nation").withColumnRenamed("n_nationkey", "_cnk")
    pair_ok = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7")
    ) | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("_snk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("_cnk"))
        .filter(pair_ok)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


@register(
    "tpch_q8",
    """
    SELECT o_year,
           ROUND(SUM(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
                 / SUM(volume), 4) AS mkt_share
    FROM (
      SELECT EXTRACT(year FROM o.o_orderdate) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n2.n_name AS nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
      JOIN region r ON n1.n_regionkey = r.r_regionkey
      JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
        AND o.o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                              AND TIMESTAMP '1997-12-31'
    ) GROUP BY 1
    """,
)
def q_tpch_q8(spark: SparkSession, sf: str) -> DataFrame:
    """Q8 national market share: one nation's fraction of revenue inside
    a region x part-type market.  The part filter is pushed into the
    broadcast side before the join (Catalyst prunes the scan)."""
    part = (
        load(spark, sf, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    )
    li = load(spark, sf, "lineitem")
    orders = load(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") <= "1997-12-31")
    )
    supp = load(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    cust = load(spark, sf, "customer").select("c_custkey", "c_nationkey")
    nat = load(spark, sf, "nation")
    region = load(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    # customer-side nations restricted to the ASIA region
    cust_nat = (
        nat.join(F.broadcast(region), nat.n_regionkey == region.r_regionkey)
        .select(F.col("n_nationkey").alias("_cnk"))
    )
    supp_nat = nat.select(
        F.col("n_nationkey").alias("_snk"), F.col("n_name").alias("nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cust_nat), F.col("c_nationkey") == F.col("_cnk"))
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(supp_nat), F.col("s_nationkey") == F.col("_snk"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_3", vol).otherwise(F.lit(0.0)))
                / F.sum(vol),
                4,
            ).alias("mkt_share")
        )
    )


@register(
    "tpch_q9",
    """
    SELECT nation, o_year, ROUND(SUM(amount), 4) AS sum_profit
    FROM (
      SELECT n.n_name AS nation,
             EXTRACT(year FROM o.o_orderdate) AS o_year,
             l.l_extendedprice * (1 - l.l_discount)
               - 0.1 * p.p_retailprice * l.l_quantity AS amount
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE p.p_name LIKE '%red%'
    ) GROUP BY 1, 2
    """,
)
def q_tpch_q9(spark: SparkSession, sf: str) -> DataFrame:
    """Q9 product-type profit, adapted: no partsupp table, so supply
    cost is modeled as 10% of p_retailprice per unit (the plan shape —
    LIKE-filtered part dim joined into the fact, profit aggregated by
    supplier nation x order year — is unchanged)."""
    part = (
        load(spark, sf, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    li = load(spark, sf, "lineitem")
    orders = load(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    supp = load(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    nat = load(spark, sf, "nation").select("n_nationkey", F.col("n_name").alias("nation"))
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.1) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(amount), 4).alias("sum_profit"))
    )


@register(
    "tpch_q12",
    """
    SELECT CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 30
                THEN 'FAST' ELSE 'SLOW' END AS ship_bucket,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY 1
    """,
)
def q_tpch_q12(spark: SparkSession, sf: str) -> DataFrame:
    """Q12 shipping-mode priority, adapted: no l_shipmode/commitdate/
    receiptdate, so lines bucket by order->ship latency (<=30 days =
    FAST).  Shape preserved: fact-fact join + pivoted CASE sums."""
    orders = load(spark, sf, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = load(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    ).select("l_orderkey", "l_shipdate")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.when(
                F.datediff("l_shipdate", "o_orderdate") <= 30, F.lit("FAST")
            ).otherwise(F.lit("SLOW")).alias("ship_bucket")
        )
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "tpch_q13",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY 1
    ) GROUP BY 1
    """,
)
def q_tpch_q13(spark: SparkSession, sf: str) -> DataFrame:
    """Q13 customer order-count distribution, adapted: the comment
    anti-pattern filter becomes an order-priority exclusion.  Shape
    preserved: filtered LEFT JOIN under a two-level aggregation (the
    outer group-by re-aggregates the already-tiny per-customer counts,
    so the second shuffle is negligible at any SF)."""
    cust = load(spark, sf, "customer").select("c_custkey")
    orders = load(spark, sf, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "tpch_q15",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q_tpch_q15(spark: SparkSession, sf: str) -> DataFrame:
    """Q15 top supplier: revenue view + scalar-max equality.  Revenue is
    rounded to 4dp *before* the max comparison in both engines so the
    equality predicate selects identical rows.  The one-row max side is
    a broadcast join, not a collect."""
    li = load(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
            "total_revenue"
        )
    )
    top = revenue.agg(F.max("total_revenue").alias("_max_rev"))
    supp = load(spark, sf, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.join(F.broadcast(top), F.col("total_revenue") == F.col("_max_rev"))
        .join(F.broadcast(supp), F.col("supplier_no") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "tpch_q16",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#13' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
      AND NOT EXISTS (SELECT 1 FROM supplier s
                      WHERE s.s_suppkey = l.l_suppkey AND s.s_acctbal < 0)
    GROUP BY 1, 2, 3
    """,
)
def q_tpch_q16(spark: SparkSession, sf: str) -> DataFrame:
    """Q16 parts/supplier relationship, adapted: no partsupp, so the
    part<->supplier pairs come from lineitem, and the supplier-complaint
    exclusion becomes a negative-balance exclusion.  Shape preserved:
    the reference's NOT IN -> broadcast left-anti join feeding
    COUNT(DISTINCT); the oracle is written as the anti-join-equivalent
    NOT EXISTS (NOT IN diverges from left_anti on NULL keys: one NULL
    s_suppkey would empty the NOT IN result while the anti join keeps
    non-matching rows — the columns are nullable in the testdata
    schema, so the oracle must pin the semantics Spark executes)."""
    part = (
        load(spark, sf, "part")
        .filter(
            (F.col("p_brand") != "Brand#13")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad_supp = (
        load(spark, sf, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    li = load(spark, sf, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(bad_supp), li.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "tpch_q17",
    """
    SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 4) AS avg_yearly
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23'
      AND l.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                          FROM lineitem l2
                          WHERE l2.l_partkey = l.l_partkey)
    """,
)
def q_tpch_q17(spark: SparkSession, sf: str) -> DataFrame:
    """Q17 small-quantity-order revenue.  The correlated scalar subquery
    becomes a per-part average aggregated once and broadcast back onto
    the brand-filtered fact — one partial-aggregated shuffle on partkey
    instead of a per-row subquery."""
    li = load(spark, sf, "lineitem")
    part = (
        load(spark, sf, "part")
        .filter(F.col("p_brand") == "Brand#23")
        .select("p_partkey")
    )
    # per-part quantity threshold over ALL lineitems of that part (the
    # subquery is correlated on partkey only, not on the brand filter)
    thresholds = li.groupBy(F.col("l_partkey").alias("_tpk")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("_qty_thresh")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(thresholds, li.l_partkey == F.col("_tpk"))
        .filter(F.col("l_quantity") < F.col("_qty_thresh"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"))
    )


@register(
    "tpch_q19",
    """
    SELECT ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q_tpch_q19(spark: SparkSession, sf: str) -> DataFrame:
    """Q19 discounted revenue under a three-way disjunction of
    (brand, size-range, quantity-range) conjunctions — the classic
    disjunctive-pushdown test.  Catalyst extracts the common brand-set
    membership into the broadcast part side; the residual OR is
    evaluated post-join inside codegen."""
    li = load(spark, sf, "lineitem")
    part = load(spark, sf, "part").select("p_partkey", "p_brand", "p_size")
    arm = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(qlo, qhi)
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(
            arm("Brand#12", 15, 1, 11)
            | arm("Brand#23", 25, 10, 20)
            | arm("Brand#34", 35, 20, 30)
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


@register(
    "tpch_q21",
    """
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE o.o_orderstatus = 'F' AND n.n_name = 'NATION_3'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY 1
    """,
)
def q_tpch_q21(spark: SparkSession, sf: str) -> DataFrame:
    """Q21 suppliers who kept orders waiting, adapted lateness (shipped
    >60 days after order date; no receipt/commit dates).  The EXISTS /
    NOT-EXISTS pair collapses into ONE per-order aggregate — distinct
    suppliers and distinct *late* suppliers — computed in a single
    shuffle on the order key, then joined back: sole-late-supplier in a
    multi-supplier order == (n_supp >= 2 AND n_late_supp == 1 AND this
    line is late).  No correlated per-row probes at any scale."""
    orders = load(spark, sf, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderstatus"
    )
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    lo = li.join(orders, li.l_orderkey == orders.o_orderkey).withColumn(
        "_late",
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
    )
    per_order = lo.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("_n_supp"),
        F.count_distinct(F.when(F.col("_late"), F.col("l_suppkey"))).alias("_n_late"),
    )
    supp = load(spark, sf, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    nat = load(spark, sf, "nation").filter(F.col("n_name") == "NATION_3")
    target_supp = supp.join(
        F.broadcast(nat), supp.s_nationkey == nat.n_nationkey
    ).select("s_suppkey", "s_name")
    return (
        lo.filter((F.col("o_orderstatus") == "F") & F.col("_late"))
        .join(
            per_order.withColumnRenamed("l_orderkey", "_pok"),
            F.col("l_orderkey") == F.col("_pok"),
        )
        .filter((F.col("_n_supp") >= 2) & (F.col("_n_late") == 1))
        .join(F.broadcast(target_supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@register(
    "tpch_q22",
    """
    WITH eligible AS (
      SELECT c_custkey, c_nationkey, c_acctbal FROM customer
      WHERE c_nationkey IN (3, 7, 9, 13, 17, 21, 23)
    ),
    avg_bal AS (
      SELECT ROUND(AVG(c_acctbal), 4) AS ab FROM eligible WHERE c_acctbal > 0
    )
    SELECT e.c_nationkey AS cntrycode, COUNT(*) AS numcust,
           ROUND(SUM(e.c_acctbal), 4) AS totacctbal
    FROM eligible e CROSS JOIN avg_bal
    WHERE e.c_acctbal > avg_bal.ab
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = e.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '1999-01-01')
    GROUP BY 1
    """,
)
def q_tpch_q22(spark: SparkSession, sf: str) -> DataFrame:
    """Q22 global sales opportunity, adapted twice: no c_phone column,
    so the country code IS c_nationkey; and every synthetic customer has
    at least one order, so "has no orders" becomes "dormant since 1999"
    (the literal NOT EXISTS would select zero rows at EVERY SF — a
    trivially-green gate).  Non-trivial at the driver's gate scale:
    sf0.01 yields 4 surviving customers; at sf0.001 the corpus is so
    small that every above-average customer has a recent order and the
    result is legitimately empty there.  Shape preserved: scalar-average subquery (rounded to 4dp in
    both engines so the > comparison picks identical rows) + NOT EXISTS
    -> left-anti join against the date-filtered orders."""
    eligible = (
        load(spark, sf, "customer")
        .filter(F.col("c_nationkey").isin(3, 7, 9, 13, 17, 21, 23))
        .select("c_custkey", "c_nationkey", "c_acctbal")
    )
    avg_bal = eligible.filter(F.col("c_acctbal") > 0).agg(
        F.round(F.avg("c_acctbal"), 4).alias("_ab")
    )
    orders = (
        load(spark, sf, "orders")
        .filter(F.col("o_orderdate") >= "1999-01-01")
        .select("o_custkey")
    )
    return (
        eligible.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_ab"))
        .join(orders, eligible.c_custkey == orders.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 4).alias("totacctbal"),
        )
    )


@register(
    "tpch_q2",
    """
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             ROUND(MIN(l_extendedprice / l_quantity), 4) AS supply_cost
      FROM lineitem GROUP BY 1, 2
    ),
    eligible AS (
      SELECT ps.l_partkey, ps.l_suppkey, ps.supply_cost
      FROM ps
      JOIN supplier s ON s.s_suppkey = ps.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'ASIA'
    )
    SELECT s.s_acctbal, s.s_name, n.n_name AS nation,
           p.p_partkey, p.p_name, e.supply_cost
    FROM eligible e
    JOIN part p ON p.p_partkey = e.l_partkey
    JOIN supplier s ON s.s_suppkey = e.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_size = 9 AND p.p_type = 'PROMO'
      AND e.supply_cost = (SELECT MIN(e2.supply_cost) FROM eligible e2
                           WHERE e2.l_partkey = e.l_partkey)
    """,
)
def q_tpch_q2(spark: SparkSession, sf: str) -> DataFrame:
    """Q2 minimum-cost supplier, adapted: no partsupp table, so the
    part<->supplier cost relation is derived from lineitem (unit price =
    min extendedprice/quantity observed per pair, rounded to 4dp BEFORE
    the min-equality so both engines select identical rows).  Shape
    preserved: region-restricted supply relation + correlated per-part
    MIN subquery, decorrelated here into one groupBy on partkey joined
    back — a broadcast-dim pipeline around two partkey shuffles, no
    per-row probes at any SF."""
    li = load(spark, sf, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.round(F.min(F.col("l_extendedprice") / F.col("l_quantity")), 4).alias(
            "supply_cost"
        )
    )
    supp = load(spark, sf, "supplier")
    nat = load(spark, sf, "nation")
    region = load(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    asia_supp = (
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(region), nat.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", F.col("n_name").alias("nation"))
    )
    eligible = ps.join(
        F.broadcast(asia_supp.select("s_suppkey")), ps.l_suppkey == F.col("s_suppkey")
    ).drop("s_suppkey")
    best = eligible.groupBy(F.col("l_partkey").alias("_bpk")).agg(
        F.min("supply_cost").alias("_best_cost")
    )
    part = (
        load(spark, sf, "part")
        .filter((F.col("p_size") == 9) & (F.col("p_type") == "PROMO"))
        .select("p_partkey", "p_name")
    )
    return (
        eligible.join(
            best,
            (eligible.l_partkey == F.col("_bpk"))
            & (eligible.supply_cost == F.col("_best_cost")),
        )
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .join(F.broadcast(asia_supp), F.col("l_suppkey") == asia_supp.s_suppkey)
        .select("s_acctbal", "s_name", "nation", "p_partkey", "p_name", "supply_cost")
    )


@register(
    "tpch_q11",
    """
    WITH val AS (
      SELECT l.l_partkey,
             CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)
               * CAST(l.l_quantity AS BIGINT) AS v
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name = 'NATION_3'
    )
    SELECT l_partkey, CAST(SUM(v) AS BIGINT) AS part_value_cents
    FROM val
    GROUP BY 1
    HAVING SUM(v) * 1000 > (SELECT SUM(v) FROM val)
    """,
)
def q_tpch_q11(spark: SparkSession, sf: str) -> DataFrame:
    """Q11 important stock, adapted: no partsupp, so a part's held value
    from NATION_3 suppliers is the exact integer cents shipped
    (round(price*100) * quantity — integer math end to end, so the
    HAVING threshold compare is bit-identical in both engines; a double
    SUM would make boundary parts engine-dependent).  Shape preserved:
    same relation aggregated twice — per-part and global — with the
    one-row global total broadcast into the HAVING filter.  The
    *1000-vs-total form keeps it in integers; at extreme SF the product
    approaches LONG range, where the production form divides the total
    once on the broadcast side instead."""
    li = load(spark, sf, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    supp = load(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    nat = load(spark, sf, "nation").filter(F.col("n_name") == "NATION_3")
    nat_supp = supp.join(
        F.broadcast(nat), supp.s_nationkey == nat.n_nationkey
    ).select("s_suppkey")
    val = (
        li.join(F.broadcast(nat_supp), li.l_suppkey == F.col("s_suppkey"))
        .withColumn(
            "v",
            F.round(F.col("l_extendedprice") * 100, 0).cast("long")
            * F.col("l_quantity").cast("long"),
        )
        .select("l_partkey", "v")
    )
    total = val.agg(F.sum("v").alias("_total"))
    return (
        val.groupBy("l_partkey")
        .agg(F.sum("v").alias("part_value_cents"))
        .join(F.broadcast(total))
        .filter(F.col("part_value_cents") * 1000 > F.col("_total"))
        .select("l_partkey", "part_value_cents")
    )


@register(
    "tpch_q20",
    """
    SELECT s.s_name, s.s_acctbal
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name = 'NATION_3'
      AND s.s_suppkey IN (
        SELECT l.l_suppkey
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_name LIKE '%red%'
          AND l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY l.l_suppkey, l.l_partkey
        HAVING SUM(l.l_quantity) > 50
      )
    """,
)
def q_tpch_q20(spark: SparkSession, sf: str) -> DataFrame:
    """Q20 potential part promotion, adapted: no partsupp availqty, so
    "has excess stock" becomes "shipped >50 units of some red part in
    1996" (quantity is integer-valued, so the double SUM threshold is
    exact in both engines).  Shape preserved: IN -> left-semi join
    against a LIKE-filtered, aggregated-with-HAVING subquery; the part
    dim broadcasts into the fact, the surviving supplier-key set is tiny
    and broadcasts into the semi join."""
    part = (
        load(spark, sf, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey")
    )
    li = load(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    ).select("l_suppkey", "l_partkey", "l_quantity")
    heavy = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("_qty"))
        .filter(F.col("_qty") > 50)
        .select("l_suppkey")
    )
    supp = load(spark, sf, "supplier")
    nat = load(spark, sf, "nation").filter(F.col("n_name") == "NATION_3")
    return (
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(heavy), supp.s_suppkey == F.col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
    )


# ---------------------------------------------------------------------------
# Quality-classifier training (CCNet/DCLM-style learned filter): logistic
# regression by full-batch quantized gradient descent — the oracle replays
# the ENTIRE training trajectory (T unrolled iterations of prediction +
# integer gradient + weight update) and must land on identical micro-unit
# weights.  Features and label are closed-form from documents; the point is
# pinning the distributed training algorithm, not model quality.
# ---------------------------------------------------------------------------
_LR_FEATURES = ["bias", "toks", "dtoks", "chd"]
_LR_ITERATIONS = 3
_LR_INV = 400

_LR_FEATS_SQL = """
    SELECT doc_id,
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
           1 AS bias,
           len(string_split(text, ' ')) AS toks,
           len(list_distinct(string_split(text, ' '))) AS dtoks,
           n_chars // 10 AS chd
    FROM documents
"""


def _lr_sql_ctes() -> str:
    wcol = {f: f"w_{f}" for f in _LR_FEATURES}
    ctes = [f"f AS ({_LR_FEATS_SQL})"]
    zero = ", ".join(f"CAST(0 AS BIGINT) AS {wcol[f]}" for f in _LR_FEATURES)
    ctes.append(f"w0 AS (SELECT {zero})")
    for t in range(1, _LR_ITERATIONS + 1):
        z = " + ".join(f"w.{wcol[f]} * f.{f}" for f in _LR_FEATURES)
        ctes.append(
            f"p{t} AS (SELECT f.*, CAST(FLOOR(1000000.0 / (1.0 + "
            f"exp(-({z}) / 1000000.0))) AS BIGINT) AS p "
            f"FROM f CROSS JOIN w{t - 1} w)"
        )
        upd = ", ".join(
            f"w.{wcol[f]} - CAST(FLOOR(SUM((p - 1000000 * y) * {f}) "
            f"/ ({_LR_INV}.0 * COUNT(*))) AS BIGINT) AS {wcol[f]}"
            for f in _LR_FEATURES
        )
        grp = ", ".join(f"w.{wcol[f]}" for f in _LR_FEATURES)
        ctes.append(
            f"w{t} AS (SELECT {upd} FROM p{t} CROSS JOIN w{t - 1} w GROUP BY {grp})"
        )
    return ",\n    ".join(ctes)


def _lr_train_sql() -> str:
    rows = " UNION ALL ".join(
        f"SELECT '{f}' AS feature, w_{f} AS weight_micro FROM w{_LR_ITERATIONS}"
        for f in _LR_FEATURES
    )
    return f"WITH {_lr_sql_ctes()} {rows}"


def _lr_score_sql() -> str:
    z = " + ".join(f"w.w_{f} * f.{f}" for f in _LR_FEATURES)
    return f"""
    WITH {_lr_sql_ctes()},
    scored AS (
        SELECT f.doc_id,
               CAST({z} AS BIGINT) AS score_micro,
               CAST(FLOOR(1000000.0 / (1.0 + exp(-({z}) / 1000000.0)))
                   AS BIGINT) AS prob_micro
        FROM f CROSS JOIN w{_LR_ITERATIONS} w
    )
    SELECT doc_id, score_micro, prob_micro,
           CASE WHEN prob_micro >= 500000 THEN 1 ELSE 0 END AS predicted
    FROM scored
    """


def _lr_features_spark(docs: DataFrame) -> DataFrame:
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        # when/otherwise (not a bare ==) so a NULL lang maps to 0 exactly
        # like the oracle's CASE ... ELSE 0
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        F.lit(1).alias("bias"),
        F.size(toks).alias("toks"),
        F.size(F.array_distinct(toks)).alias("dtoks"),
        F.expr("n_chars div 10").alias("chd"),
    )


@register("quality_lr_train", _lr_train_sql())
def q_quality_lr_train(spark: SparkSession, sf: str) -> DataFrame:
    """Learned quality filter, training step: T full-batch quantized-GD
    iterations, each ONE aggregation job (gradient = k-vector reduce, no
    shuffle); weights land on the driver and are inlined as literals —
    the model-broadcast pattern.  classifier.py docstring has the scale
    argument."""
    from .operators.classifier import train_logreg_quantized, weights_table

    feats = _lr_features_spark(load(spark, sf, "documents"))
    w = train_logreg_quantized(
        feats, "y", _LR_FEATURES, iterations=_LR_ITERATIONS, lr_inv=_LR_INV
    )
    return weights_table(feats, w)


@register("quality_lr_scores", _lr_score_sql())
def q_quality_lr_scores(spark: SparkSession, sf: str) -> DataFrame:
    """Learned quality filter, inference step over the trained weights:
    a pure projection (JVM expressions, no shuffle, no Python) — the
    shape that scores 100 TB in one scan.  The oracle replays training
    AND scoring end to end."""
    from .operators.classifier import score_logreg_quantized, train_logreg_quantized

    feats = _lr_features_spark(load(spark, sf, "documents"))
    w = train_logreg_quantized(
        feats, "y", _LR_FEATURES, iterations=_LR_ITERATIONS, lr_inv=_LR_INV
    )
    return score_logreg_quantized(feats, w, ["doc_id"])


# ---------------------------------------------------------------------------
# Graph centrality (Common-Crawl-style domain ranking): weighted PageRank
# over the event-type transition graph.  Exact INTEGER arithmetic end to
# end (truncating div both engines), so the oracle replays all power
# iterations with zero float-boundary risk.
# ---------------------------------------------------------------------------
def _pagerank_sql(iterations: int = 3, damping_pct: int = 85) -> str:
    ctes = [
        """ordered AS (
        SELECT event_type AS dst,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
        FROM events
    )""",
        """edges AS (
        SELECT src, dst, COUNT(*) AS weight FROM ordered
        WHERE src IS NOT NULL GROUP BY 1, 2
    )""",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "nv AS (SELECT COUNT(*) AS n FROM nodes)",
        "outw AS (SELECT src, SUM(weight) AS out_w FROM edges GROUP BY 1)",
        "r0 AS (SELECT node, 1000000 // n AS rank_micro FROM nodes CROSS JOIN nv)",
    ]
    for t in range(1, iterations + 1):
        ctes.append(
            f"""c{t} AS (
        SELECT e.dst AS node, SUM((r.rank_micro * e.weight) // o.out_w) AS c_sum
        FROM edges e JOIN outw o ON o.src = e.src JOIN r{t - 1} r ON r.node = e.src
        GROUP BY 1
    )"""
        )
        ctes.append(
            f"""r{t} AS (
        SELECT n.node,
               ((1000000 * {100 - damping_pct}) // 100) // nv.n
                   + ({damping_pct} * COALESCE(c.c_sum, 0)) // 100 AS rank_micro
        FROM nodes n CROSS JOIN nv LEFT JOIN c{t} c ON c.node = n.node
    )"""
        )
    body = ",\n    ".join(ctes)
    return (
        f"WITH {body} SELECT node, CAST(rank_micro AS BIGINT) AS rank_micro "
        f"FROM r{iterations}"
    )


@register("pagerank_event_transitions", _pagerank_sql())
def q_pagerank_event_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted PageRank over the per-user event-type transition graph.
    Heavy half: one shuffle (window on user) + one agg distills 100 TB of
    events to a tiny edge list.  Light half: 3 broadcast power
    iterations, edges persisted once, per-round lineage cut.  graph.py
    docstring has the full scale argument."""
    from .operators.graph import pagerank_quantized, transition_edges

    edges = transition_edges(
        load(spark, sf, "events"), "user_id", "ts", "event_type", "event_id"
    )
    return pagerank_quantized(edges, damping_pct=85, iterations=3)


# ---------------------------------------------------------------------------
# Exact quantiles with bounded memory (iterative range narrowing — no
# global sort, no approximation): the semantic oracle is SQL
# quantile_disc.  Small buckets/threshold force multiple narrowing rounds
# at gate scale so the recursion itself is what's verified.
# ---------------------------------------------------------------------------
@register(
    "exact_quantiles_events",
    """
    SELECT CAST(0.5 AS DOUBLE) AS quantile, quantile_disc(value, 0.5) AS value FROM events
    UNION ALL
    SELECT CAST(0.9 AS DOUBLE), quantile_disc(value, 0.9) FROM events
    UNION ALL
    SELECT CAST(0.99 AS DOUBLE), quantile_disc(value, 0.99) FROM events
    """,
)
def q_exact_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact p50/p90/p99 of events.value via distributed k-th-element
    range narrowing (quantiles.py) — the 100 TB alternative to both a
    global sort and an approx sketch."""
    from .operators.quantiles import exact_quantiles

    return exact_quantiles(
        load(spark, sf, "events"), "value", [0.5, 0.9, 0.99],
        buckets=16, final_threshold=100,
    )


# ---------------------------------------------------------------------------
# Product-analytics shapes over events: first-touch funnel and weekly
# cohort retention (operators/analytics.py).
# ---------------------------------------------------------------------------
@register(
    "funnel_stages_events",
    """
    WITH s1 AS (
        SELECT user_id, MIN(ts) AS t FROM events
        WHERE event_type = 'click' GROUP BY 1
    ), s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t
        FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
        WHERE e.event_type = 'view' GROUP BY 1
    ), s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t
        FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
        WHERE e.event_type = 'purchase' GROUP BY 1
    )
    SELECT 1 AS stage, 'click' AS stage_name, COUNT(*) AS users FROM s1
    UNION ALL SELECT 2, 'view', COUNT(*) FROM s2
    UNION ALL SELECT 3, 'purchase', COUNT(*) FROM s3
    """,
)
def q_funnel_stages(spark: SparkSession, sf: str) -> DataFrame:
    """First-touch click -> view -> purchase funnel: one filtered min
    aggregate + one user-keyed join per stage, each anchor table
    persisted so stage counts never recompute the prefix chain."""
    from .operators.analytics import funnel_stages

    return funnel_stages(
        load(spark, sf, "events"), "user_id", "ts", "event_type",
        ["click", "view", "purchase"],
    )


@register(
    "cohort_retention_events",
    """
    WITH first AS (
        SELECT user_id, date_trunc('week', MIN(ts)) AS w0
        FROM events GROUP BY 1
    ), activity AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events
    )
    SELECT strftime(w0, '%Y-%m-%d %H:%M:%S') AS cohort_week,
           CAST(date_diff('day', w0, w) // 7 AS INTEGER) AS week_offset,
           COUNT(*) AS users
    FROM activity JOIN first USING (user_id)
    GROUP BY 1, 2
    """,
)
def q_cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly cohort retention grid: two aggregates + one user equi-join;
    week arithmetic in whole truncated weeks (integer-exact both
    engines)."""
    from .operators.analytics import cohort_retention

    out = cohort_retention(load(spark, sf, "events"), "user_id", "ts")
    return out.select(
        _fmt_ts(F.col("cohort_week")).alias("cohort_week"),
        "week_offset",
        "users",
    )


# ---------------------------------------------------------------------------
# Stream-stream event-time interval join: clicks matched to the purchases
# they precede by <= 30 minutes per user.  Inner-join rows emit as both
# sides arrive (append mode), so availableNow replay == the batch join —
# which is exactly the oracle.
# ---------------------------------------------------------------------------
@register(
    "streaming_interval_join",
    """
    SELECT l.event_id AS click_id, r.event_id AS purchase_id
    FROM events l JOIN events r
      ON l.event_type = 'click' AND r.event_type = 'purchase'
     AND l.user_id = r.user_id
     AND r.ts > l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE
    """,
)
def q_streaming_interval_join(spark: SparkSession, sf: str) -> DataFrame:
    """Watermarked stream-stream interval join (streaming/joins.py): the
    range condition bounds join state to (window x rate) per executor —
    the piece that makes correlation feasible on unbounded input."""
    from .streaming.joins import interval_join_streams

    schema = spark.read.parquet(f"{sf}/events.parquet").schema
    clicks = (
        spark.readStream.schema(schema)
        .parquet(f"{sf}/events.*")
        .where(F.col("event_type") == "click")
        .select(
            "user_id",
            # watermarks require TIMESTAMP (tz-aware); session TZ is pinned
            # UTC so the cast is value-preserving
            F.col("ts").cast("timestamp").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
    )
    purchases = (
        spark.readStream.schema(schema)
        .parquet(f"{sf}/events.*")
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("ts").cast("timestamp").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
    )
    joined = interval_join_streams(
        clicks,
        purchases,
        ["user_id"],
        "click_ts",
        "purchase_ts",
        "30 minutes",
    )
    return _run_stream_gate(
        spark,
        joined.select("click_id", "purchase_id"),
        "stream_gate_interval_join",
        mode="append",
    )


# ---------------------------------------------------------------------------
# Streaming sessionization: session_window state merged across micro-batches
# ---------------------------------------------------------------------------
@register(
    "streaming_sessionize",
    f"""
    WITH s AS ({_SESSION_FLAGS_SQL}),
    numbered AS (
        SELECT user_id, ts,
               SUM(st) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
        FROM s
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           strftime(MAX(ts) + INTERVAL 4 HOUR, '%Y-%m-%d %H:%M:%S')
               AS window_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM numbered GROUP BY user_id, sid
    """,
)
def q_streaming_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING sessionization (streaming/sessions.py): Spark's
    session_window aggregate with session state merged across
    micro-batches, drained complete-mode via availableNow — the final
    table must equal the batch sessionization of the full input (the same
    oracle text as the batch ``session_window_native`` gate, split
    strictly on delta > gap)."""
    from .streaming.sessions import sessionize_stream

    schema = spark.read.parquet(f"{sf}/events.parquet").schema
    stream = spark.readStream.schema(schema).parquet(f"{sf}/events.*")
    sess = sessionize_stream(stream, ["user_id"], time_col="ts", gap="4 hours")
    tbl = _run_stream_gate(spark, sess, "stream_gate_sessionize")
    return tbl.select(
        "user_id",
        _fmt_ts(F.col("window_start")).alias("window_start"),
        _fmt_ts(F.col("window_end")).alias("window_end"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# Retrieval: BM25 lexical ranking + hybrid reciprocal-rank fusion
# ---------------------------------------------------------------------------
_BM25_SQL_CTES = """
    tok AS (
        SELECT doc_id, t AS term
        FROM (SELECT doc_id,
                     unnest(string_split_regex(lower(text), '\\s+')) AS t
              FROM documents)
        WHERE t <> ''
    ),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY 1),
    stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(dl) AS BIGINT) AS total_tokens
              FROM dl),
    tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tok WHERE term IN ('dup', 'spark', 'merge') GROUP BY 1, 2
    ),
    dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    per_term AS (
        SELECT tf.doc_id,
               (CAST(FLOOR(1000000.0 * ln(
                    CAST(2 * s.n_docs + 2 AS DOUBLE)
                    / CAST(2 * d.df + 1 AS DOUBLE)
                )) AS BIGINT) * 22 * s.total_tokens * tf.tf)
               // (10 * s.total_tokens * tf.tf + 3 * s.total_tokens
                   + 9 * dl.dl * s.n_docs) AS score_micro
        FROM tf
        JOIN dl USING (doc_id)
        JOIN dfreq d USING (term)
        CROSS JOIN stats s
    ),
    bm25_scored AS (
        SELECT doc_id,
               CAST(SUM(score_micro) AS BIGINT) AS score_micro,
               CAST(COUNT(*) AS BIGINT) AS matched_terms,
               ROUND(CAST(SUM(score_micro) AS BIGINT) / 1000000.0, 4) AS bm25
        FROM per_term GROUP BY 1
    ),
    bm25_ranked AS (
        SELECT doc_id, score_micro, matched_terms, bm25,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY score_micro DESC, doc_id) AS INT) AS rank
        FROM bm25_scored
    )
"""


@register(
    "bm25_topk",
    f"""
    WITH {_BM25_SQL_CTES}
    SELECT doc_id, score_micro, matched_terms, bm25, rank
    FROM bm25_ranked WHERE rank <= 10
    """,
)
def q_bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Top-10 documents by BM25 (operators/retrieval.py) for the query
    ('dup', 'spark', 'merge') — 'dup' is the corpus's one rare term
    (df ~ 5% of docs), so idf dominates and rare-term docs rank first.
    The rank key is the pure-BIGINT Lucene-idf x rational-saturation form
    (module docstring derivation); the oracle replays every integer step
    including the one floor(1e6*ln) quantization.  Postings are filtered
    to the query's terms before any join; top-k is TakeOrderedAndProject."""
    from .operators.retrieval import bm25_topk

    docs = load_docs_spread(spark, sf)
    return bm25_topk(docs, ["dup", "spark", "merge"], k=10)


@register(
    "bm25_query_join",
    f"""
    WITH {_BM25_SQL_CTES},
    q AS (
        SELECT * FROM (VALUES
            ('q1', 'dup'), ('q1', 'merge'),
            ('q2', 'spark'), ('q2', 'window'),
            ('q3', 'dup')
        ) AS v(query_id, term)
    ),
    matched AS (
        SELECT q.query_id, t.doc_id, t.term
        FROM tok t JOIN q ON t.term = q.term
    ),
    tfq AS (
        SELECT query_id, doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM matched GROUP BY 1, 2, 3
    ),
    dfq AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df
        FROM (SELECT DISTINCT doc_id, term FROM tfq) GROUP BY 1
    ),
    ptq AS (
        SELECT tfq.query_id, tfq.doc_id,
               (CAST(FLOOR(1000000.0 * ln(
                    CAST(2 * s.n_docs + 2 AS DOUBLE)
                    / CAST(2 * d.df + 1 AS DOUBLE)
                )) AS BIGINT) * 22 * s.total_tokens * tfq.tf)
               // (10 * s.total_tokens * tfq.tf + 3 * s.total_tokens
                   + 9 * dl.dl * s.n_docs) AS score_micro
        FROM tfq
        JOIN dl USING (doc_id)
        JOIN dfq d USING (term)
        CROSS JOIN stats s
    ),
    sq AS (
        SELECT query_id, doc_id,
               CAST(SUM(score_micro) AS BIGINT) AS score_micro,
               CAST(COUNT(*) AS BIGINT) AS matched_terms,
               ROUND(CAST(SUM(score_micro) AS BIGINT) / 1000000.0, 4) AS bm25
        FROM ptq GROUP BY 1, 2
    )
    SELECT query_id, doc_id, score_micro, matched_terms, bm25,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY score_micro DESC, doc_id) AS INT) AS rank
    FROM sq
    QUALIFY rank <= 5
    """,
)
def q_bm25_query_join(spark: SparkSession, sf: str) -> DataFrame:
    """Batch BM25 (operators/retrieval.py::bm25_join): top-5 docs for
    THREE queries in one job — corpus explodes once against the broadcast
    union of query terms, df computed once per term across queries, and
    the per-query cut goes through the shared skew-proof two_phase_top_n.
    The oracle replays the whole multi-query integer chain."""
    from .operators.retrieval import bm25_join

    docs = load_docs_spread(spark, sf)
    queries = spark.createDataFrame(
        [("q1", ["dup", "merge"]), ("q2", ["spark", "window"]), ("q3", ["dup"])],
        "query_id string, terms array<string>",
    )
    return bm25_join(docs, queries, k=5)


@register(
    "retrieval_rrf_fusion",
    f"""
    WITH {_BM25_SQL_CTES},
    lex AS (SELECT doc_id, rank FROM bm25_ranked WHERE rank <= 20),
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    cos_ranked AS (
        SELECT e.vec_id AS doc_id,
               ROW_NUMBER() OVER (
                   ORDER BY ROUND(list_cosine_similarity(
                                e.embedding::DOUBLE[], q.qv), 6) DESC,
                            e.vec_id) AS rank
        FROM embeddings e CROSS JOIN q
        QUALIFY rank <= 20
    ),
    unioned AS (
        SELECT doc_id, rank FROM lex
        UNION ALL
        SELECT doc_id, rank FROM cos_ranked
    ),
    fused AS (
        SELECT doc_id,
               CAST(SUM(1000000 // (60 + rank)) AS BIGINT) AS rrf_ppm,
               CAST(COUNT(*) AS BIGINT) AS n_lists
        FROM unioned GROUP BY 1
    )
    SELECT doc_id, rrf_ppm, n_lists,
           CAST(ROW_NUMBER() OVER (
               ORDER BY rrf_ppm DESC, doc_id) AS INT) AS fused_rank
    FROM fused
    """,
)
def q_retrieval_rrf_fusion(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid retrieval: BM25 top-20 (lexical) fused with exact-cosine
    top-20 for vec 0's embedding (vector) via reciprocal-rank fusion
    (operators/retrieval.py::rrf_fuse, k=60).  Fused score is the integer
    sum of 1e6 div (60 + rank) — no float association order; items in one
    list only still score.  doc_id and vec_id share an id space in the
    test tables, standing in for a doc->embedding mapping."""
    from .operators.retrieval import bm25_topk, rrf_fuse
    from .operators.similarity import topk_cosine

    docs = load_docs_spread(spark, sf)
    lex = bm25_topk(docs, ["dup", "spark", "merge"], k=20).select(
        "doc_id", "rank"
    )
    emb = load(spark, sf, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    cos_top = topk_cosine(emb, [float(x) for x in qvec], k=20)
    w = Window.orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    cos_ranked = cos_top.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).select(F.col("vec_id").alias("doc_id"), "rank")
    return rrf_fuse([lex, cos_ranked], k=60)


# ---------------------------------------------------------------------------
# Corpus drift: PSI between two slices of a feature histogram
# ---------------------------------------------------------------------------
@register(
    "corpus_drift_psi",
    """
    WITH b AS (
        SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS tc,
               source IN ('src0', 'src1', 'src2', 'src3', 'src4') AS is_base
        FROM documents
    ),
    hist AS (
        SELECT tc - (tc % 8) AS bucket,
               CAST(SUM(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT) AS cp,
               CAST(SUM(CASE WHEN is_base THEN 0 ELSE 1 END) AS BIGINT) AS cq
        FROM b GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(cp) AS BIGINT) AS np_total,
               CAST(SUM(cq) AS BIGINT) AS nq_total,
               CAST(COUNT(*) AS BIGINT) AS n_buckets
        FROM hist
    ),
    x AS (
        SELECT bucket, cp, cq,
               (cp + 1) * (nq_total + n_buckets) AS pnum,
               (cq + 1) * (np_total + n_buckets) AS qnum,
               np_total, nq_total, n_buckets
        FROM hist CROSS JOIN tot
    ),
    y AS (
        SELECT bucket, cp, cq,
               CAST(FLOOR(1000000.0 * ln(
                   CAST(pnum AS DOUBLE) / CAST(qnum AS DOUBLE)
               )) AS BIGINT) AS lnr_micro,
               pnum, qnum, np_total, nq_total, n_buckets
        FROM x
    )
    SELECT bucket, cp, cq, lnr_micro,
           CAST(((pnum - qnum) * lnr_micro)
                // ((np_total + n_buckets) * (nq_total + n_buckets))
                AS BIGINT) AS psi_micro,
           ROUND(CAST(((pnum - qnum) * lnr_micro)
                // ((np_total + n_buckets) * (nq_total + n_buckets))
                AS BIGINT) / 1000000.0, 6) AS psi
    FROM y
    """,
)
def q_corpus_drift_psi(spark: SparkSession, sf: str) -> DataFrame:
    """Population Stability Index (= Jeffreys divergence) between two
    corpus slices over a width-8 token-count histogram: sources src0-src4
    as the baseline vs the rest (operators/drift.py).  One
    partial-aggregated groupBy over the bucketed scan + a one-row totals
    broadcast; every contribution is a nonnegative BIGINT (same-sign
    product, truncating div), replayed integer-for-integer by the
    oracle including the add-1 smoothing over the union bucket set."""
    from .functions.textstats import token_count_ws
    from .operators.drift import psi_histogram_drift, width_bucket

    docs = load(spark, sf, "documents")
    b = docs.select(
        width_bucket(token_count_ws(F.col("text")), 8).alias("bucket"),
        # coalesce(False) mirrors the oracle's CASE WHEN NULL -> ELSE: a
        # NULL source lands in the comparison slice on BOTH engines
        # (psi_histogram_drift itself raises on a NULL slice flag)
        F.coalesce(
            F.col("source").isin("src0", "src1", "src2", "src3", "src4"),
            F.lit(False),
        ).alias("is_base"),
    )
    return psi_histogram_drift(b, "bucket", "is_base")


@register(
    "drift_timeline_psi",
    """
    WITH b AS (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               CAST(FLOOR(value) AS BIGINT) AS v,
               event_type = 'purchase' AS is_base
        FROM events
    ),
    -- full floor-mod form: matches width_bucket for NEGATIVE v too
    -- (v % 50 truncates toward zero in DuckDB; pmod floors)
    d AS (SELECT day, v - ((v % 50 + 50) % 50) AS bucket, is_base FROM b),
    hist AS (
        SELECT day, bucket,
               CAST(SUM(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT) AS cp,
               CAST(SUM(CASE WHEN is_base THEN 0 ELSE 1 END) AS BIGINT) AS cq
        FROM d GROUP BY 1, 2
    ),
    t AS (
        SELECT day, bucket, cp, cq,
               CAST(SUM(cp) OVER (PARTITION BY day) AS BIGINT) AS np_total,
               CAST(SUM(cq) OVER (PARTITION BY day) AS BIGINT) AS nq_total,
               CAST(COUNT(*) OVER (PARTITION BY day) AS BIGINT) AS n_buckets
        FROM hist
    ),
    x AS (
        SELECT day, bucket, cp, cq,
               (cp + 1) * (nq_total + n_buckets) AS pnum,
               (cq + 1) * (np_total + n_buckets) AS qnum,
               np_total, nq_total, n_buckets
        FROM t
    ),
    y AS (
        SELECT day, bucket, cp, cq,
               CAST(FLOOR(1000000.0 * ln(
                   CAST(pnum AS DOUBLE) / CAST(qnum AS DOUBLE)
               )) AS BIGINT) AS lnr_micro,
               pnum, qnum, np_total, nq_total, n_buckets
        FROM x
    )
    SELECT day, bucket, cp, cq, lnr_micro,
           CAST(((pnum - qnum) * lnr_micro)
                // ((np_total + n_buckets) * (nq_total + n_buckets))
                AS BIGINT) AS psi_micro,
           ROUND(CAST(((pnum - qnum) * lnr_micro)
                // ((np_total + n_buckets) * (nq_total + n_buckets))
                AS BIGINT) / 1000000.0, 6) AS psi
    FROM y
    """,
)
def q_drift_timeline_psi(spark: SparkSession, sf: str) -> DataFrame:
    """Per-DAY PSI (operators/drift.py::psi_histogram_drift_by): 30
    independent drift computations (purchase vs non-purchase value
    distributions, width-50 buckets) in one job — the monitoring
    timeline.  Per-group totals are a window PARTITIONED BY day over the
    histogram rows; the event scan is paid once."""
    from .operators.drift import psi_histogram_drift_by, width_bucket

    ev = load(spark, sf, "events")
    b = ev.select(
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
        width_bucket(F.floor(F.col("value")), 50).alias("bucket"),
        (F.col("event_type") == "purchase").alias("is_base"),
    )
    return psi_histogram_drift_by(b, "bucket", "is_base", ["day"])


@register(
    "corpus_drift_ks",
    """
    WITH b AS (
        SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS tc,
               source IN ('src0', 'src1', 'src2', 'src3', 'src4') AS is_base
        FROM documents
    ),
    hist AS (
        SELECT tc - (tc % 8) AS bucket,
               CAST(SUM(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT) AS cp,
               CAST(SUM(CASE WHEN is_base THEN 0 ELSE 1 END) AS BIGINT) AS cq
        FROM b GROUP BY 1
    ),
    cum AS (
        SELECT CAST(SUM(cp) OVER (ORDER BY bucket
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ccp,
               CAST(SUM(cq) OVER (ORDER BY bucket
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ccq,
               CAST(SUM(cp) OVER () AS BIGINT) AS np_total,
               CAST(SUM(cq) OVER () AS BIGINT) AS nq_total
        FROM hist WHERE bucket IS NOT NULL
    )
    SELECT CAST(MAX(ABS(ccp * nq_total - ccq * np_total)) AS BIGINT) AS d_num,
           CAST(MAX(np_total) AS BIGINT) AS np_total,
           CAST(MAX(nq_total) AS BIGINT) AS nq_total,
           ROUND(CAST(MAX(ABS(ccp * nq_total - ccq * np_total)) AS BIGINT)
                 / CAST(MAX(np_total) * MAX(nq_total) AS DOUBLE), 6) AS ks
    FROM cum
    """,
)
def q_corpus_drift_ks(spark: SparkSession, sf: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic
    (operators/drift.py::ks_statistic) over the same width-8 token-count
    histogram and slices as ``corpus_drift_psi`` — the rank-based twin.
    D's numerator max|ccp*Nq - ccq*Np| and the slice totals are hashed as
    exact BIGINTs; the cumulative window runs over the B-row histogram,
    never corpus rows."""
    from .functions.textstats import token_count_ws
    from .operators.drift import ks_statistic, width_bucket

    docs = load(spark, sf, "documents")
    b = docs.select(
        width_bucket(token_count_ws(F.col("text")), 8).alias("bucket"),
        F.coalesce(
            F.col("source").isin("src0", "src1", "src2", "src3", "src4"),
            F.lit(False),
        ).alias("is_base"),
    )
    return ks_statistic(b, "bucket", "is_base")


@register(
    "corpus_drift_emd",
    """
    WITH b AS (
        SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS tc,
               source IN ('src0', 'src1', 'src2', 'src3', 'src4') AS is_base
        FROM documents
    ),
    hist AS (
        SELECT tc - (tc % 8) AS bucket,
               CAST(SUM(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT) AS cp,
               CAST(SUM(CASE WHEN is_base THEN 0 ELSE 1 END) AS BIGINT) AS cq
        FROM b GROUP BY 1
    ),
    cum AS (
        SELECT CAST(SUM(cp) OVER (ORDER BY bucket
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ccp,
               CAST(SUM(cq) OVER (ORDER BY bucket
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ccq,
               CAST(LEAD(bucket) OVER (ORDER BY bucket) - bucket
                   AS BIGINT) AS gap,
               CAST(SUM(cp) OVER () AS BIGINT) AS np_total,
               CAST(SUM(cq) OVER () AS BIGINT) AS nq_total
        FROM hist WHERE bucket IS NOT NULL
    )
    SELECT CAST(COALESCE(SUM(ABS(ccp * nq_total - ccq * np_total) * gap), 0)
                AS BIGINT) AS w1_num,
           CAST(MAX(np_total) AS BIGINT) AS np_total,
           CAST(MAX(nq_total) AS BIGINT) AS nq_total,
           ROUND(CAST(COALESCE(SUM(ABS(ccp * nq_total - ccq * np_total) * gap), 0)
                      AS BIGINT)
                 / CAST(MAX(np_total) * MAX(nq_total) AS DOUBLE), 6) AS emd
    FROM cum
    """,
)
def q_corpus_drift_emd(spark: SparkSession, sf: str) -> DataFrame:
    """Earth-mover's (1-Wasserstein) drift statistic
    (operators/drift.py::emd_statistic) over the same width-8
    token-count histogram and slices as ``corpus_drift_{psi,ks}`` — the
    magnitude-aware third member of the drift family (KS takes the worst
    CDF gap; W1 integrates the gap over the domain, in token-count
    units).  The numerator sum(|ccp*Nq - ccq*Np| * gap) and the slice
    totals are hashed as exact BIGINTs; all windows run over the B-row
    histogram, never corpus rows."""
    from .functions.textstats import token_count_ws
    from .operators.drift import emd_statistic, width_bucket

    docs = load(spark, sf, "documents")
    b = docs.select(
        width_bucket(token_count_ws(F.col("text")), 8).alias("bucket"),
        F.coalesce(
            F.col("source").isin("src0", "src1", "src2", "src3", "src4"),
            F.lit(False),
        ).alias("is_base"),
    )
    return emd_statistic(b, "bucket", "is_base")


# ---------------------------------------------------------------------------
# Cross-source score calibration (bucket-granular quantile normalization)
# ---------------------------------------------------------------------------
_CALIB_SQL_CTES = """
    b AS (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS tc
        FROM documents
    ),
    d AS (SELECT doc_id, source, tc - (tc % 8) AS bucket FROM b),
    hist AS (
        SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM d GROUP BY 1, 2
    ),
    cdf AS (
        SELECT source, bucket,
               CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY bucket
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ccum,
               CAST(SUM(cnt) OVER (PARTITION BY source) AS BIGINT) AS n_s
        FROM hist
    )
"""


@register(
    "score_percentile",
    f"""
    WITH {_CALIB_SQL_CTES}
    SELECT d.doc_id, d.source, d.bucket,
           (1000000 * c.ccum) // c.n_s AS pct_ppm
    FROM d JOIN cdf c USING (source, bucket)
    """,
)
def q_score_percentile(spark: SparkSession, sf: str) -> DataFrame:
    """Within-source score percentile (operators/calibrate.py::
    per_source_percentile) over the width-8 token-count bucket as the
    stand-in score: pct_ppm = (1e6 * ccum) div n_s, computed on the
    (source x bucket) histogram and broadcast back — the corpus never
    sorts, the skew-proof form of per-source percent_rank."""
    from .functions.textstats import token_count_ws
    from .operators.calibrate import per_source_percentile
    from .operators.drift import width_bucket

    docs = load(spark, sf, "documents").select(
        "doc_id",
        "source",
        width_bucket(token_count_ws(F.col("text")), 8).alias("bucket"),
    )
    return per_source_percentile(docs, "bucket", "source")


@register(
    "score_calibration",
    f"""
    WITH {_CALIB_SQL_CTES},
    pb AS (SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS cnt FROM hist GROUP BY 1),
    g AS (
        SELECT bucket AS g_bucket,
               CAST(SUM(cnt) OVER (ORDER BY bucket
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ccum_g,
               CAST(SUM(cnt) OVER () AS BIGINT) AS n_g
        FROM pb
    ),
    m AS (
        SELECT c.source, c.bucket, MIN(g.g_bucket) AS calibrated_bucket
        FROM cdf c JOIN g ON g.ccum_g * c.n_s >= c.ccum * g.n_g
        GROUP BY 1, 2
    )
    SELECT d.doc_id, d.source, d.bucket, m.calibrated_bucket
    FROM d JOIN m USING (source, bucket)
    """,
)
def q_score_calibration(spark: SparkSession, sf: str) -> DataFrame:
    """Quantile normalization onto the global distribution
    (operators/calibrate.py::calibrate_to_global): each row's bucket maps
    to the smallest global bucket whose global CDF reaches the row's
    within-source CDF, matched on exact integer cross products
    (ccum_g * n_s >= ccum_s * n_g).  The mapping table is a broadcast
    range join over the two tiny cumulative histograms."""
    from .functions.textstats import token_count_ws
    from .operators.calibrate import calibrate_to_global
    from .operators.drift import width_bucket

    docs = load(spark, sf, "documents").select(
        "doc_id",
        "source",
        width_bucket(token_count_ws(F.col("text")), 8).alias("bucket"),
    )
    return calibrate_to_global(docs, "bucket", "source")


# ---------------------------------------------------------------------------
# Text normalization + asymmetric shingle containment
# ---------------------------------------------------------------------------
@register(
    "text_normalize",
    """
    WITH messy AS (
        SELECT doc_id,
               '  ID-' || CAST(doc_id % 1000 AS VARCHAR) || ':' || chr(9)
               || upper(text)
               || ' !!! price=$4' || CAST(doc_id % 10 AS VARCHAR) || '.99 '
                   AS text
        FROM documents
    )
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               lower(text),
               '[\\x00-\\x1F\\x7F]', ' ', 'g'),
               '[0-9]', '0', 'g'),
               '[^a-z0-9\\s]+', ' ', 'g'),
               '\\s+', ' ', 'g')) AS norm_text
    FROM messy
    """,
)
def q_text_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """Pre-shingling canonicalization (functions/webtext.py::
    normalize_text): lowercase, control chars out, digits folded to '0',
    punctuation runs to space, whitespace collapsed.  The corpus text is
    deterministically dirtied first (mixed case, tab, id/price digits,
    punctuation runs) so every rule fires; the oracle replays the
    identical synthesis and regexp chain."""
    from .functions.webtext import normalize_text

    docs = load(spark, sf, "documents")
    messy = docs.select(
        "doc_id",
        F.concat(
            F.lit("  ID-"),
            (F.col("doc_id") % 1000).cast("string"),
            F.lit(":\t"),
            F.upper(F.col("text")),
            F.lit(" !!! price=$4"),
            (F.col("doc_id") % 10).cast("string"),
            F.lit(".99 "),
        ).alias("text"),
    )
    return messy.select(
        "doc_id", normalize_text(F.col("text")).alias("norm_text")
    )


@register(
    "dedup_containment",
    """
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ), sh AS (
        SELECT doc_id,
               list_distinct([array_to_string(t[i:i+2], chr(1)) for i in range(1, len(t) - 1)]) AS shingles
        FROM toks WHERE len(t) >= 3
    ), ex AS (
        SELECT doc_id, unnest(shingles) AS shingle FROM sh
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY 1
    ), common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(common AS BIGINT) AS common,
           CAST(sa.n AS BIGINT) AS n_a,
           CAST(sb.n AS BIGINT) AS n_b,
           ROUND(common / sa.n, 4) AS containment_a,
           ROUND(common / sb.n, 4) AS containment_b
    FROM common
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE common >= 0.5 * sa.n OR common >= 0.5 * sb.n
    """,
)
def q_dedup_containment(spark: SparkSession, sf: str) -> DataFrame:
    """Asymmetric shingle containment (operators/dedup.py::
    ngram_containment_pairs): the quote/partial-inclusion detector —
    containment(a in b) = |shingles_a ∩ shingles_b| / |shingles_a|, a
    pair kept when EITHER direction >= 0.5 (exact-integer boundary test).
    Same single shingle self-join as the Jaccard gate; full-universe
    (exact=True) at gate scale, max_shingle_df is the 100 TB path."""
    from .operators.dedup import ngram_containment_pairs

    docs = load_docs_spread(spark, sf)
    return ngram_containment_pairs(
        docs, "doc_id", "text", k=3, threshold=0.5, exact=True
    )


# ---------------------------------------------------------------------------
# Log stitching, tail-based trace sampling, PMI collocations
# ---------------------------------------------------------------------------
_LOG_LINES_SQL = """
    lines AS (
        SELECT 'app-' || (event_id % 4) || '.log' AS file,
               event_id * 3 AS line_no,
               CASE WHEN event_id < 4 THEN '  boot #' || event_id
                    ELSE '2024 ' || event_type || ' #' || event_id
               END AS line
        FROM events
        UNION ALL
        SELECT 'app-' || (event_id % 4) || '.log', event_id * 3 + 1,
               '  at frame0 #' || event_id
        FROM events WHERE event_type = 'error'
        UNION ALL
        SELECT 'app-' || (event_id % 4) || '.log', event_id * 3 + 2,
               '  at frame1 #' || event_id
        FROM events WHERE event_type = 'error'
    )
"""


def _synth_log_lines(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic physical log lines from events: one '2024 ...' start
    line per event plus two stack-frame continuations per error event;
    the first event of each of the 4 files emits a non-matching boot line
    instead, so every file exercises the orphan-prefix path."""
    ev = load(spark, sf, "events")
    file_ = F.concat(
        F.lit("app-"), (F.col("event_id") % 4).cast("string"), F.lit(".log")
    ).alias("file")
    start = ev.select(
        file_,
        (F.col("event_id") * 3).alias("line_no"),
        F.when(
            F.col("event_id") < 4,
            F.concat(F.lit("  boot #"), F.col("event_id").cast("string")),
        )
        .otherwise(
            F.concat(
                F.lit("2024 "),
                F.col("event_type"),
                F.lit(" #"),
                F.col("event_id").cast("string"),
            )
        )
        .alias("line"),
    )
    errs = ev.where(F.col("event_type") == "error")
    conts = [
        errs.select(
            file_,
            (F.col("event_id") * 3 + 1 + k).alias("line_no"),
            F.concat(
                F.lit(f"  at frame{k} #"), F.col("event_id").cast("string")
            ).alias("line"),
        )
        for k in (0, 1)
    ]
    return start.union(conts[0]).union(conts[1])


@register(
    "stitch_multiline_logs",
    f"""
    WITH {_LOG_LINES_SQL},
    m AS (
        SELECT *, CASE WHEN regexp_matches(line, '^2024') THEN 1 ELSE 0 END AS s
        FROM lines
    ),
    r AS (
        SELECT *, SUM(s) OVER (PARTITION BY file ORDER BY line_no) AS rec
        FROM m
    )
    SELECT file, CAST(rec AS BIGINT) AS record_id,
           string_agg(line, chr(10) ORDER BY line_no) AS message,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(MIN(line_no) AS BIGINT) AS first_line_no,
           rec > 0 AS clean_start,
           COUNT(*) > 500 AS truncated
    FROM r GROUP BY file, rec
    """,
)
def q_stitch_multiline_logs(spark: SparkSession, sf: str) -> DataFrame:
    """Multiline stitching (operators/stitch.py): filebeat's
    pattern+negate+after semantics over 4 synthetic files — error events
    carry 2-line stack-frame continuations, each file leads with one
    orphan boot line (clean_start = false).  The oracle replays the
    running-sum record numbering and ordered string_agg assembly."""
    from .operators.stitch import stitch_multiline

    return stitch_multiline(
        _synth_log_lines(spark, sf), r"^2024", ["file"], max_lines=500
    )


@register(
    "trace_tail_sampling",
    """
    WITH sp AS (
        SELECT 'tr-' || (event_id // 5) AS trace_id, event_id,
               event_type = 'error' AND event_id % 11 = 0 AS is_error,
               (event_id * 7919) % 3000000 AS duration_us
        FROM events
    ),
    agg AS (
        SELECT *,
               MAX(CASE WHEN is_error THEN 1 ELSE 0 END)
                   OVER (PARTITION BY trace_id) AS he,
               MAX(duration_us) OVER (PARTITION BY trace_id) AS md
        FROM sp
    ),
    dec AS (
        SELECT trace_id, event_id, is_error, duration_us,
               CASE WHEN he = 1 THEN 'error'
                    WHEN md >= 2900000 THEN 'latency'
                    WHEN ('0x' || substr(md5(trace_id || ':0'), 1, 15))::BIGINT
                         / 1152921504606846976.0 < 0.02 THEN 'probabilistic'
               END AS sample_reason
        FROM agg
    )
    SELECT * FROM dec WHERE sample_reason IS NOT NULL
    """,
)
def q_trace_tail_sampling(spark: SparkSession, sf: str) -> DataFrame:
    """Tail-based trace sampling (operators/tailsample.py): synthetic
    5-span traces from events; keep traces with a (rare) error span, a
    span >= 2.9s, or the deterministic 2% floor — whole traces survive,
    with the firing policy recorded.  The oracle replays the per-trace
    window decision and the md5-uniform probabilistic hash."""
    from .operators.tailsample import tail_sample_traces

    ev = load(spark, sf, "events")
    spans = ev.select(
        F.concat(F.lit("tr-"), F.expr("event_id div 5").cast("string")).alias(
            "trace_id"
        ),
        "event_id",
        (
            (F.col("event_type") == "error") & (F.col("event_id") % 11 == 0)
        ).alias("is_error"),
        F.expr("(event_id * 7919) % 3000000").alias("duration_us"),
    )
    return tail_sample_traces(
        spans, rate=0.02, slow_threshold_us=2_900_000, seed=0
    )


@register(
    "corpus_pmi_collocations",
    """
    WITH tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           t -> t <> '') AS toks
        FROM documents
    ),
    uni AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT unnest(toks) AS term FROM tok) GROUP BY 1
    ),
    big AS (
        SELECT bg.x AS x, bg.y AS y, CAST(COUNT(*) AS BIGINT) AS c_xy
        FROM (SELECT unnest(list_transform(range(1, len(toks)),
                     i -> {'x': toks[i], 'y': toks[i+1]})) AS bg
              FROM tok)
        GROUP BY 1, 2 HAVING COUNT(*) >= 30
    ),
    stats AS (
        SELECT CAST(SUM(len(toks)) AS BIGINT) AS n_tokens,
               CAST(SUM(GREATEST(len(toks) - 1, 0)) AS BIGINT) AS n_bigrams
        FROM tok
    ),
    scored AS (
        SELECT b.x, b.y, b.c_xy, ux.c AS c_x, uy.c AS c_y,
               CAST(FLOOR(1000000.0 * ln(
                   CAST(b.c_xy * s.n_tokens AS DOUBLE)
                   * CAST(s.n_tokens AS DOUBLE)
                   / CAST(s.n_bigrams * ux.c AS DOUBLE)
                   / CAST(uy.c AS DOUBLE)
               )) AS BIGINT) AS pmi_micro
        FROM big b
        JOIN uni ux ON b.x = ux.term
        JOIN uni uy ON b.y = uy.term
        CROSS JOIN stats s
    )
    SELECT x, y, c_xy, c_x, c_y, pmi_micro,
           ROUND(pmi_micro / 1000000.0, 6) AS pmi
    FROM scored
    """,
)
def q_corpus_pmi_collocations(spark: SparkSession, sf: str) -> DataFrame:
    """Bigram collocations by integer micro-nat PMI (operators/
    textmine.py::pmi_collocations), min_count 30 — the oracle replays the
    unigram/bigram counts and the single left-to-right double chain."""
    from .operators.textmine import pmi_collocations

    return pmi_collocations(load_docs_spread(spark, sf), min_count=30)


@register(
    "alert_for_duration",
    """
    WITH m AS (
        SELECT event_type AS svc,
               CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS w,
               CAST(COUNT(*) AS BIGINT) AS v
        FROM events GROUP BY 1, 2
    ),
    b AS (
        SELECT svc, w, v, v >= 4 AS breach,
               CASE WHEN v >= 4
                         AND COALESCE(LAG(v >= 4) OVER pk, FALSE)
                         AND w - LAG(w) OVER pk = 1
                    THEN 0 ELSE 1 END AS starts
        FROM m WINDOW pk AS (PARTITION BY svc ORDER BY w)
    ),
    i AS (
        SELECT *, SUM(starts) OVER (PARTITION BY svc ORDER BY w) AS island
        FROM b
    ),
    s AS (
        SELECT svc, w, v, breach,
               CASE WHEN breach
                    THEN ROW_NUMBER() OVER (PARTITION BY svc, island ORDER BY w)
                    ELSE 0 END AS streak
        FROM i
    ),
    st AS (
        SELECT svc, w, v, breach, CAST(streak AS BIGINT) AS streak,
               CASE WHEN streak >= 3 THEN 'firing'
                    WHEN streak > 0 THEN 'pending'
                    ELSE 'ok' END AS state
        FROM s
    )
    SELECT svc, w, v, breach, streak, state,
           CASE WHEN state = 'firing'
                     AND COALESCE(LAG(state) OVER pk, 'ok') <> 'firing'
                THEN 'fires'
                WHEN state <> 'firing' AND LAG(state) OVER pk = 'firing'
                THEN 'resolves' END AS transition
    FROM st WINDOW pk AS (PARTITION BY svc ORDER BY w)
    """,
)
def q_alert_for_duration(spark: SparkSession, sf: str) -> DataFrame:
    """Prometheus-style `count >= 4 FOR 3h` per event_type over hourly
    event-rate buckets (operators/alerts.py::alert_for_duration) — hours
    with no rows for a type are genuine gaps and reset the streak.  The
    oracle replays the island detection, streak rank, and the
    fires/resolves transition feed."""
    from .operators.alerts import alert_for_duration

    ev = load(spark, sf, "events")
    m = ev.groupBy(
        F.col("event_type").alias("svc"),
        (F.unix_timestamp(F.date_trunc("hour", "ts")) / 3600)
        .cast("long")
        .alias("w"),
    ).agg(F.count(F.lit(1)).cast("long").alias("v"))
    return alert_for_duration(m, ["svc"], "w", "v", 4.0, for_windows=3)


@register(
    "slo_burn_rate",
    """
    WITH m AS (
        SELECT 'shard-' || (user_id % 3) AS svc,
               CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS w,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS bad,
               CAST(COUNT(*) AS BIGINT) AS total
        FROM events GROUP BY 1, 2
    ),
    r AS (
        SELECT svc, w, bad, total,
               CASE WHEN SUM(total) OVER s > 0 THEN CAST(FLOOR(
                   CAST(SUM(bad) OVER s AS DOUBLE)
                   / CAST(SUM(total) OVER s AS DOUBLE)
                   / (1.0::DOUBLE - 0.95::DOUBLE) * 1000000.0) AS BIGINT) END AS short_burn_micro,
               CASE WHEN SUM(total) OVER l > 0 THEN CAST(FLOOR(
                   CAST(SUM(bad) OVER l AS DOUBLE)
                   / CAST(SUM(total) OVER l AS DOUBLE)
                   / (1.0::DOUBLE - 0.95::DOUBLE) * 1000000.0) AS BIGINT) END AS long_burn_micro
        FROM m WINDOW
            s AS (PARTITION BY svc ORDER BY w ROWS BETWEEN 0 PRECEDING AND CURRENT ROW),
            l AS (PARTITION BY svc ORDER BY w ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
    )
    SELECT svc, w, bad, total, short_burn_micro, long_burn_micro,
           ROUND(short_burn_micro / 1000000.0, 6) AS short_burn,
           ROUND(long_burn_micro / 1000000.0, 6) AS long_burn,
           COALESCE(short_burn_micro >= 2000000, FALSE)
               AND COALESCE(long_burn_micro >= 2000000, FALSE) AS page
    FROM r
    """,
)
def q_slo_burn_rate(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-window multi-burn-rate SLO alerting (operators/alerts.py::
    slo_burn_rate): per user-shard hourly error ratio against a 95% SLO,
    short window 1h / long window 6h, page at 2x budget burn on BOTH.
    Integer micro-unit burn rates make the double chain engine-exact."""
    from .operators.alerts import slo_burn_rate

    ev = load(spark, sf, "events")
    m = ev.groupBy(
        F.concat(F.lit("shard-"), (F.col("user_id") % 3)).alias("svc"),
        (F.unix_timestamp(F.date_trunc("hour", "ts")) / 3600)
        .cast("long")
        .alias("w"),
    ).agg(
        F.sum((F.col("event_type") == "error").cast("long")).alias("bad"),
        F.count(F.lit(1)).cast("long").alias("total"),
    )
    return slo_burn_rate(
        m, ["svc"], "w", "bad", "total",
        slo_target=0.95, short_windows=1, long_windows=6, burn_factor=2.0,
    )


@register(
    "service_dependency_map",
    """
    WITH sp AS (
        SELECT 'sp' || id AS span_id,
               CASE WHEN id % 3 = 0 THEN '' ELSE 'sp' || (id - 1) END AS parent_span_id,
               'svc-' || (id % 5) AS service,
               CASE WHEN id % 3 = 0 THEN NULL ELSE 'dest-' || (id % 4) END AS destination,
               CAST(1000 + (id * 7919) % 5000000 AS BIGINT) AS dur_us
        FROM range(6000) t(id)
    ),
    resolved AS (
        SELECT c.span_id, c.service AS source, c.destination, c.dur_us,
               p.service AS target, p.dur_us AS child_dur, p.span_id AS pid
        FROM sp c LEFT JOIN sp p
          ON p.parent_span_id = c.span_id AND p.parent_span_id <> ''
    ),
    edges AS (
        SELECT source, target, 'internal' AS edge_type, child_dur AS d
        FROM resolved WHERE pid IS NOT NULL AND source <> target
        UNION ALL
        SELECT source, destination AS target, 'external', dur_us
        FROM resolved WHERE pid IS NULL AND destination IS NOT NULL
    )
    SELECT source, target, edge_type,
           CAST(COUNT(*) AS BIGINT) AS n_calls,
           CAST(SUM(d) AS BIGINT) AS sum_duration_us
    FROM edges GROUP BY 1, 2, 3
    """,
)
def q_service_dependency_map(spark: SparkSession, sf: str) -> DataFrame:
    """Elastic-APM-style service map (operators/servicemap.py): exit
    spans resolved to their downstream transaction by parent_span_id =
    span_id; unresolved exits fall back to the destination resource as
    an external edge.  One self-join + one groupBy, replayed verbatim by
    the oracle over the same closed-form span fixture."""
    from .operators.servicemap import service_dependency_edges
    from .sources.spans import generate_spans

    spans = generate_spans(spark, 6000).select(
        "span_id", "parent_span_id", "service", "destination",
        (F.unix_micros("end_ts") - F.unix_micros("start_ts")).alias("dur_us"),
    )
    return service_dependency_edges(spans, duration_col="dur_us")


@register(
    "webgraph_extract_links",
    """
    WITH p AS (
        SELECT id,
               CASE WHEN id % 5 = 0
                    THEN 'hot' || (id % 3) || '.example.com'
                    ELSE 'd' || (id % 47) || '.example.org' END AS domain
        FROM range(4000) t(id)
    ),
    b AS (
        SELECT id, domain,
               'https://' || domain || '/p/' || (id % 1000) AS url
        FROM p
    ),
    links AS (
        SELECT url, 'https://d' || ((id * 3) % 47) || '.example.org/p/'
                    || (id % 97) AS link FROM b
        UNION ALL
        SELECT url, 'https://' || domain || '/p/' || ((id + 1) % 1000)
        FROM b WHERE id % 2 = 0
        UNION ALL
        SELECT url, 'https://' || domain || '/p/q/' || (id % 13)
        FROM b WHERE id % 3 = 0
        UNION ALL
        SELECT url, 'https://hot' || ((id + 1) % 3) || '.example.com/pp'
        FROM b WHERE id % 5 = 0
        UNION ALL
        SELECT url, 'https://d' || (id % 47) || '.example.org/f'
        FROM b WHERE id % 7 = 0
        UNION ALL
        -- uppercase <A HREF=...> tag in the fixture: extraction is
        -- case-insensitive, the href itself is lowercase and kept verbatim
        SELECT url, 'https://hot' || (id % 3) || '.example.com/u'
        FROM b WHERE id % 13 = 0
        UNION ALL
        -- anchors wrapping child elements (<b>, <img>) still count as links
        SELECT url, 'https://b' || (id % 7) || '.example.net/d'
        FROM b WHERE id % 17 = 0
        UNION ALL
        SELECT url, 'https://c' || (id % 5) || '.example.net/i'
        FROM b WHERE id % 19 = 0
        -- mailto:/javascript: hrefs in the fixture are non-web schemes and
        -- must be dropped, so they contribute no rows here
    )
    SELECT url, link FROM links
    """,
)
def q_webgraph_extract_links(spark: SparkSession, sf: str) -> DataFrame:
    """Anchor extraction + RFC 3986 relative-reference resolution
    (operators/webgraph.py::extract_links) over the linked-pages fixture.
    The Spark side regex-extracts hrefs from real HTML and resolves them
    (absolute / protocol-relative / root-relative / directory-relative /
    fragment-stripping / empty-href-dropping); the oracle independently
    rebuilds the expected resolved link set closed-form from the fixture's
    id rules — the two meet only if every resolution branch is right."""
    from .operators.webgraph import extract_links
    from .sources.pages import generate_linked_pages

    return extract_links(generate_linked_pages(spark, 4000, replayable=True))


@register(
    "webgraph_host_edges",
    """
    WITH p AS (
        SELECT id,
               CASE WHEN id % 5 = 0
                    THEN 'hot' || (id % 3) || '.example.com'
                    ELSE 'd' || (id % 47) || '.example.org' END AS domain
        FROM range(4000) t(id)
    ),
    e AS (
        SELECT domain AS src_host,
               'd' || ((id * 3) % 47) || '.example.org' AS dst_host FROM p
        UNION ALL
        SELECT domain, 'hot' || ((id + 1) % 3) || '.example.com'
        FROM p WHERE id % 5 = 0
        UNION ALL
        SELECT domain, 'd' || (id % 47) || '.example.org'
        FROM p WHERE id % 7 = 0
        UNION ALL
        SELECT domain, 'hot' || (id % 3) || '.example.com'
        FROM p WHERE id % 13 = 0
        UNION ALL
        SELECT domain, 'b' || (id % 7) || '.example.net'
        FROM p WHERE id % 17 = 0
        UNION ALL
        SELECT domain, 'c' || (id % 5) || '.example.net'
        FROM p WHERE id % 19 = 0
        -- root-relative and directory-relative links resolve to the page's
        -- own host: self-loops by construction, dropped below (as is the
        -- uppercase-tag link when the page itself is on its hot domain)
    )
    SELECT src_host, dst_host, CAST(COUNT(*) AS BIGINT) AS n_links
    FROM e WHERE src_host <> dst_host
    GROUP BY src_host, dst_host
    """,
)
def q_webgraph_host_edges(spark: SparkSession, sf: str) -> DataFrame:
    """Host-level link graph (operators/webgraph.py::host_link_edges):
    extracted links aggregated to (src_host, dst_host, n_links) with
    self-loops dropped — the PageRank/frontier input table."""
    from .operators.webgraph import host_link_edges
    from .sources.pages import generate_linked_pages

    return host_link_edges(generate_linked_pages(spark, 4000, replayable=True))


@register(
    "robots_parse_rules",
    """
    WITH h AS (
        SELECT id, 'd' || id || '.example.org' AS host FROM range(200) t(id)
    ),
    bot AS (SELECT unnest(['gptbot', 'ccbot']) AS agent),
    star AS (
        SELECT host, 1 AS group_id, '*' AS agent,
               'disallow' AS rule, '/private/' AS path FROM h
        UNION ALL
        SELECT host, 1, '*', 'allow', '/private/ok' FROM h
        UNION ALL
        SELECT host, 1, '*', 'allow', '/p/' FROM h WHERE id % 5 = 0
    ),
    bots AS (
        SELECT host, 2 AS group_id, bot.agent, 'disallow' AS rule,
               '/' AS path
        FROM h CROSS JOIN bot WHERE id % 2 = 0
        UNION ALL
        SELECT host, 2, bot.agent, 'allow', '/p/'
        FROM h CROSS JOIN bot WHERE id % 6 = 0
    ),
    -- the allow-all exemption group (User-agent: ExemptBot / Disallow:):
    -- survives parsing as one NULL-rule row; its group number depends on
    -- whether the host also has the bot group
    exempt AS (
        SELECT host, CASE WHEN id % 2 = 0 THEN 3 ELSE 2 END AS group_id,
               'exemptbot' AS agent, CAST(NULL AS VARCHAR) AS rule,
               CAST(NULL AS VARCHAR) AS path
        FROM h WHERE id % 11 = 0
    )
    SELECT host, CAST(group_id AS BIGINT) AS group_id, agent, rule, path,
           CAST(length(path) AS INT) AS path_len
    FROM (SELECT * FROM star UNION ALL SELECT * FROM bots
          UNION ALL SELECT * FROM exempt)
    """,
)
def q_robots_parse_rules(spark: SparkSession, sf: str) -> DataFrame:
    """robots.txt parse (operators/robots.py::parse_robots): the Spark
    side splits real fixture bodies into lines and reassembles RFC 9309
    groups (multi-agent headers, comments, blank lines inside a group,
    case-insensitive fields, empty-path and unknown lines dropped); the
    oracle rebuilds the expected rule set closed-form from the fixture's
    id rules — they meet only if every parsing rule is right."""
    from .operators.robots import parse_robots
    from .sources.pages import generate_robots

    return parse_robots(generate_robots(spark, 200))


@register(
    "robots_url_filter",
    """
    WITH u AS (
        SELECT id AS url_id, id % 40 AS hid,
               CASE WHEN id % 4 = 0 THEN '/private/ok'
                    WHEN id % 4 = 1 THEN '/private/secret'
                    WHEN id % 4 = 2 THEN '/p/' || (id % 9)
                    ELSE '/q' END AS path
        FROM range(4000) t(id)
    )
    SELECT CAST(url_id AS BIGINT) AS url_id,
           'https://d' || hid || '.example.org' || path AS url,
           CASE
               -- even hosts have a ccbot group: disallow / (+ allow /p/
               -- on multiples of 6); star rules do NOT apply to ccbot
               WHEN hid % 2 = 0 AND hid % 6 = 0 AND path LIKE '/p/%'
                   THEN 'allow'
               WHEN hid % 2 = 0 THEN 'disallow'
               -- odd hosts fall back to the * group
               WHEN path = '/private/ok' THEN 'allow'
               WHEN path = '/private/secret' THEN 'disallow'
               WHEN path LIKE '/p/%' AND hid % 5 = 0 THEN 'allow'
               ELSE NULL
           END AS matched_rule,
           COALESCE(
               CASE
                   WHEN hid % 2 = 0 AND hid % 6 = 0 AND path LIKE '/p/%'
                       THEN 'allow'
                   WHEN hid % 2 = 0 THEN 'disallow'
                   WHEN path = '/private/ok' THEN 'allow'
                   WHEN path = '/private/secret' THEN 'disallow'
                   WHEN path LIKE '/p/%' AND hid % 5 = 0 THEN 'allow'
                   ELSE NULL
               END = 'allow', TRUE) AS allowed
    FROM u
    """,
)
def q_robots_url_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Crawl-permission join (operators/robots.py::robots_allowed) for
    agent 'ccbot' over the frontier fixture: agent-specific group beats
    '*', longest path prefix wins, equal length ties to allow, hosts or
    paths with no rule are allowed.  The oracle replays the decision table
    closed-form per (host id, path shape)."""
    from .operators.robots import parse_robots, robots_allowed
    from .sources.pages import generate_frontier_urls, generate_robots

    rules = parse_robots(generate_robots(spark, 40))
    return robots_allowed(generate_frontier_urls(spark, 4000, 40), rules, "ccbot")


_CRAWL_SNAPSHOT_SQL = """
    WITH o AS (
        SELECT id, 'https://d' || (id % 40) || '.example.org/p/' || id AS url,
               CASE WHEN id % 50 = 0 THEN NULL
                    ELSE (id * 7919) % 10007 END AS fp
        FROM range(4000) t(id)
    ),
    n AS (
        SELECT id, 'https://d' || (id % 40) || '.example.org/p/' || id AS url,
               CASE WHEN id % 50 = 0 THEN NULL
                    WHEN id % 3 = 0 THEN (id * 7919) % 10007 + 1
                    ELSE (id * 7919) % 10007 END AS fp
        FROM range(200, 4200) t(id)
    ),
    delta AS (
        SELECT COALESCE(o.url, n.url) AS url,
               COALESCE(o.id, n.id) AS id,
               CASE WHEN o.url IS NULL THEN 'added'
                    WHEN n.url IS NULL THEN 'removed'
                    WHEN o.fp IS NOT DISTINCT FROM n.fp THEN 'unchanged'
                    ELSE 'changed' END AS status,
               CAST(o.fp AS BIGINT) AS old_fp,
               CAST(n.fp AS BIGINT) AS new_fp
        FROM o FULL OUTER JOIN n ON o.url = n.url
    )
"""


@register(
    "crawl_snapshot_delta",
    _CRAWL_SNAPSHOT_SQL + "SELECT url, status, old_fp, new_fp FROM delta",
)
def q_crawl_snapshot_delta(spark: SparkSession, sf: str) -> DataFrame:
    """Two-snapshot crawl diff (operators/recrawl.py::crawl_delta):
    added/removed/changed/unchanged per url with null-safe fingerprint
    compare; oracle is the same FULL OUTER JOIN replayed in SQL."""
    from .operators.recrawl import crawl_delta
    from .sources.pages import generate_crawl_snapshot

    old = generate_crawl_snapshot(spark, 0, 4000)
    new = generate_crawl_snapshot(spark, 200, 4200, bump_mod=3)
    return crawl_delta(old, new)


@register(
    "recrawl_host_rates",
    _CRAWL_SNAPSHOT_SQL
    + """
    SELECT 'd' || (id % 40) || '.example.org' AS host,
           CAST(SUM(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
           CAST(SUM(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           CAST(SUM(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
           CAST(SUM(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(SUM(CASE WHEN status <> 'unchanged' THEN 1 ELSE 0 END)
                * 1000000 AS BIGINT) // COUNT(*) AS change_ppm
    FROM delta GROUP BY 1
    """,
)
def q_recrawl_host_rates(spark: SparkSession, sf: str) -> DataFrame:
    """Per-host churn rates (operators/recrawl.py::host_change_rates) —
    the integer change_ppm a recrawl scheduler thresholds on; exact
    BIGINT division on both engines."""
    from .operators.recrawl import crawl_delta, host_change_rates
    from .sources.pages import generate_crawl_snapshot

    old = generate_crawl_snapshot(spark, 0, 4000)
    new = generate_crawl_snapshot(spark, 200, 4200, bump_mod=3)
    return host_change_rates(crawl_delta(old, new))


@register(
    "page_metadata",
    """
    SELECT CAST(id AS BIGINT) AS doc_id,
           CASE WHEN id % 3 = 0 THEN 'desc ' || id
                WHEN id % 3 = 1 THEN 'rev ' || id END AS meta_description,
           CASE WHEN id % 4 = 0 THEN 'https://c.io/p/' || (id % 100)
                WHEN id % 4 = 1 THEN 'https://c.io/q/' || (id % 100)
           END AS canonical,
           CASE WHEN id % 5 = 0 THEN 'og ' || id END AS og_title,
           CASE WHEN id % 6 = 0 THEN 'utf-8'
                WHEN id % 6 = 1 THEN 'iso-8859-1' END AS charset,
           CASE WHEN id % 2 = 0 THEN ['en', 'de', 'fr'][(id % 3) + 1]
           END AS html_lang,
           id % 7 = 0 AS noindex,
           id % 7 IN (0, 1) AS nofollow
    FROM range(4000) t(id)
    """,
)
def q_page_metadata(spark: SparkSession, sf: str) -> DataFrame:
    """Head-metadata extraction (functions/pagemeta.py::page_metadata)
    over real fixture HTML exercising both attribute orders and mixed
    case; the oracle replays the expected values from the id rules."""
    from .functions.pagemeta import page_metadata
    from .sources.pages import generate_meta_pages

    out = page_metadata(generate_meta_pages(spark, 4000))
    return out.select(
        "doc_id", "meta_description", "canonical", "og_title", "charset",
        "html_lang", "noindex", "nofollow",
    )


@register(
    "redirect_resolution",
    """
    WITH RECURSIVE log AS (
        SELECT 'https://h.io/p/' || id AS url,
               CASE WHEN id % 20 IN (5, 6) THEN TRUE
                    WHEN id % 7 IN (0, 1, 2) THEN TRUE
                    ELSE FALSE END AS is_redir,
               CASE WHEN id % 20 = 5 THEN 'https://h.io/p/' || (id + 1)
                    WHEN id % 20 = 6 THEN 'https://h.io/p/' || (id - 1)
                    WHEN id % 7 = 0 THEN 'https://h.io/p/' || (id + 1)
                    WHEN id % 7 = 1 THEN 'https://h.io/p/' || (id + 2)
                    WHEN id % 7 = 2 THEN 'https://gone.example/x'
               END AS next
        FROM range(3000) t(id)
    ),
    walk AS (
        SELECT url AS start_url, url AS cur, 0 AS hops FROM log
        UNION ALL
        SELECT w.start_url, l.next, w.hops + 1
        FROM walk w JOIN log l ON l.url = w.cur
        WHERE l.is_redir AND w.hops < 8
    ),
    term AS (
        SELECT start_url, cur, hops,
               row_number() OVER (
                   PARTITION BY start_url ORDER BY hops DESC
               ) AS rn
        FROM walk
    )
    SELECT t.start_url AS url, t.cur AS final_url,
           CAST(t.hops AS INT) AS hops,
           CASE WHEN l.url IS NULL THEN 'dangling'
                WHEN l.is_redir THEN 'too_many'
                ELSE 'ok' END AS outcome
    FROM term t LEFT JOIN log l ON l.url = t.cur
    WHERE t.rn = 1
    """,
)
def q_redirect_resolution(spark: SparkSession, sf: str) -> DataFrame:
    """Redirect chain walking (operators/redirects.py::resolve_redirects)
    over the fetch-log fixture: relative+absolute Location resolution,
    chains leaving the log ('dangling'), genuine cycles surfacing as
    'too_many' at the hop bound.  The oracle walks the same closed-form
    log with a recursive CTE and picks each start's terminal state."""
    from .operators.redirects import resolve_redirects
    from .sources.pages import generate_fetch_log

    return resolve_redirects(generate_fetch_log(spark, 3000), max_hops=8)


@register(
    "scd2_history",
    """
    WITH c AS (
        SELECT id % 50 AS k, id // 50 AS seq FROM range(3000) t(id)
    ),
    v AS (
        -- compaction boundaries: an attribute changes exactly when seq
        -- crosses a multiple of 7 (plan) or 13 (region); seq 0 opens
        SELECT k, seq FROM c WHERE seq = 0 OR seq % 7 = 0 OR seq % 13 = 0
    )
    SELECT 'u' || k AS entity_id,
           'p' || (seq // 7) AS plan,
           'r' || ((seq // 13) % 4) AS region,
           make_timestamp((1767225600 + seq * 3600) * 1000000) AS valid_from,
           make_timestamp((1767225600 + lead(seq) OVER (
               PARTITION BY k ORDER BY seq) * 3600) * 1000000) AS valid_to,
           lead(seq) OVER (PARTITION BY k ORDER BY seq) IS NULL AS is_current,
           CAST(row_number() OVER (PARTITION BY k ORDER BY seq) AS INT)
               AS version
    FROM v
    """,
)
def q_scd2_history(spark: SparkSession, sf: str) -> DataFrame:
    """SCD2 history from a re-emitting change log
    (operators/asof.py::scd2_from_changes): consecutive unchanged
    snapshots compacted, half-open validity intervals, is_current on the
    open version.  The oracle derives the version boundaries closed-form
    from the fixture's change schedule."""
    from .operators.asof import scd2_from_changes
    from .sources.dims import generate_change_log

    return scd2_from_changes(
        generate_change_log(spark, 3000), ["entity_id"], ts_col="ts"
    )


@register(
    "weighted_sample_topk",
    """
    WITH s AS (
        SELECT doc_id, source, n_chars,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':7'),
                                    1, 15)) AS BIGINT) AS h
        FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
    ),
    p AS (
        SELECT doc_id, source, n_chars,
               CAST(floor(-1000000.0 * ln((h + 1) / 1152921504606846976.0))
                    AS BIGINT) * 1000 // n_chars AS priority_key
        FROM s
    )
    SELECT doc_id, source, n_chars, priority_key,
           CAST(row_number() OVER (
               PARTITION BY source ORDER BY priority_key, doc_id
           ) AS INT) AS sample_rank
    FROM p
    QUALIFY sample_rank <= 20
    """,
)
def q_weighted_sample_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (operators/sampling.py::weighted_sample_topk, Efraimidis–Spirakis
    A-ES with the md5-uniform RNG): 20 docs per source, selection odds
    proportional to n_chars; the oracle replays hash -> quantized -ln ->
    integer priority -> per-source rank exactly."""
    from .operators.sampling import weighted_sample_topk

    docs = load(spark, sf, "documents")
    out = weighted_sample_topk(docs, 20, "n_chars", seed=7)
    return out.select("doc_id", "source", "n_chars", "priority_key", "sample_rank")


_WARC_FIXTURE_SQL = """
    WITH b AS (
        SELECT id, id % 10 = 9 AS is_req, id % 7 = 0 AS is_404,
               '<!DOCTYPE html><p>doc ' || id || '</p>' AS body
        FROM range(4000) t(id)
    ),
    p AS (
        SELECT *,
               CASE WHEN is_req THEN
                   'GET /p/' || id || E' HTTP/1.1\\r\\nHost: d' || (id % 40)
                   || E'.example.org\\r\\n\\r\\n'
               WHEN is_404 THEN
                   E'HTTP/1.1 404 Not Found\\r\\nContent-Type: text/plain\\r\\n'
                   || CASE WHEN id % 5 = 2
                      THEN E'Set-Cookie: a=1\\r\\nSet-Cookie: b=2\\r\\n'
                      ELSE '' END
                   || E'Server: fixture\\r\\n\\r\\n' || body
               ELSE
                   E'HTTP/1.1 200 OK\\r\\nContent-Type: text/html; '
                   || E'charset=UTF-8\\r\\n'
                   || CASE WHEN id % 5 = 2
                      THEN E'Set-Cookie: a=1\\r\\nSet-Cookie: b=2\\r\\n'
                      ELSE '' END
                   || E'Server: fixture\\r\\n\\r\\n' || body
               END AS payload
        FROM b
    )
"""


@register(
    "warc_parse_records",
    _WARC_FIXTURE_SQL
    + """
    SELECT CAST(id AS BIGINT) AS rec_id,
           CASE WHEN is_req THEN 'request' ELSE 'response' END AS warc_type,
           'https://d' || (id % 40) || '.example.org/p/' || id AS target_uri,
           CAST('2026-01-01 ' || lpad(CAST(id % 24 AS VARCHAR), 2, '0')
                || ':00:' || lpad(CAST(id % 60 AS VARCHAR), 2, '0')
                AS TIMESTAMP) AS warc_date,
           '<urn:uuid:' || id || '>' AS record_id,
           CAST(length(payload) AS BIGINT) AS content_length,
           payload AS payload_text
    FROM p
    """,
)
def q_warc_parse_records(spark: SparkSession, sf: str) -> DataFrame:
    """WARC record decode (sources/warc.py::parse_warc_records): the
    Spark side parses REAL two-layer record bytes (WARC headers +
    payload); the oracle rebuilds every field closed-form from the
    fixture's id rules, including the byte-exact payload."""
    from .sources.warc import generate_warc_records, parse_warc_records

    rec = parse_warc_records(generate_warc_records(spark, 4000))
    return rec.select(
        "rec_id", "warc_type", "target_uri", "warc_date", "record_id",
        "content_length", F.col("payload").cast("string").alias("payload_text"),
    )


@register(
    "warc_http_responses",
    _WARC_FIXTURE_SQL
    + """
    SELECT CAST(id AS BIGINT) AS rec_id,
           CASE WHEN is_404 THEN 404 ELSE 200 END AS http_status,
           CASE WHEN is_404 THEN 'text/plain' ELSE 'text/html' END
               AS http_content_type,
           body AS body_text
    FROM p WHERE NOT is_req
    """,
)
def q_warc_http_responses(spark: SparkSession, sf: str) -> DataFrame:
    """Nested HTTP decode (sources/warc.py::parse_http_response) over the
    WARC response records: status line, media type with parameters
    stripped, body bytes — the step that turns Common Crawl archives
    into the pages-table shape."""
    from .sources.warc import (
        generate_warc_records,
        parse_http_response,
        parse_warc_records,
    )

    rec = parse_warc_records(generate_warc_records(spark, 4000))
    resp = parse_http_response(rec.where(F.col("warc_type") == "response"))
    return resp.select(
        "rec_id", "http_status", "http_content_type",
        F.col("body").cast("string").alias("body_text"),
    )


@register(
    "phrase_search_docs",
    r"""
    WITH d AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'),
                           t -> t <> '') AS toks
        FROM documents
    ),
    m AS (
        SELECT doc_id,
               list_filter(range(1, greatest(len(toks) - 1, 0) + 1),
                           i -> toks[i] = 'fast' AND toks[i + 1] = 'table'
               ) AS hits
        FROM d
    )
    SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_occurrences,
           CAST(hits[1] AS INT) AS first_pos
    FROM m WHERE len(hits) > 0
    """,
)
def q_phrase_search_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Token-adjacent phrase search (operators/retrieval.py::
    phrase_match) for 'fast table' over the documents table; the oracle
    replays the same sliding-window conjunction with DuckDB list
    lambdas over an independent tokenization."""
    from .operators.retrieval import phrase_match

    return phrase_match(load(spark, sf, "documents"), "fast table")


@register(
    "content_sniff_types",
    """
    SELECT CAST(id AS BIGINT) AS blob_id,
           CASE id % 10
               WHEN 0 THEN 'png'  WHEN 1 THEN 'jpeg' WHEN 2 THEN 'gif'
               WHEN 3 THEN 'pdf'  WHEN 4 THEN 'gzip' WHEN 5 THEN 'zip'
               WHEN 6 THEN 'bmp'  WHEN 7 THEN 'wav'  WHEN 8 THEN 'mp4'
               ELSE 'html'
           END AS content_type
    FROM range(4000) t(id)
    """,
)
def q_content_sniff_types(spark: SparkSession, sf: str) -> DataFrame:
    """Magic-byte content sniffing (functions/magic.py::content_type)
    over the mixed-blob fixture: the Spark side inspects REAL signature
    bytes (unhex'd prefixes + payload), the oracle replays the expected
    label from the fixture's id rule."""
    from .functions.magic import content_type
    from .sources.pages import generate_binary_blobs

    blobs = generate_binary_blobs(spark, 4000)
    return blobs.select("blob_id", content_type("blob").alias("content_type"))


_TRACE_TREE_SQL = """
    WITH RECURSIVE b AS (
        SELECT id, id // 12 AS t, id % 12 AS k,
               1000 + (id * 7919) % 100000 AS dur
        FROM range(600) s(id)
    ),
    sp AS (
        SELECT 'tr' || t AS trace_id, 's' || t || '-' || k AS span_id,
               CASE WHEN k = 0 THEN NULL
                    WHEN t % 7 = 0 AND k = 11 THEN 'missing'
                    ELSE 's' || t || '-' || ((k - 1) // 2) END AS parent,
               dur
        FROM b
    ),
    rec AS (
        SELECT trace_id, span_id, 0 AS depth, dur AS cum, span_id AS path
        FROM sp WHERE parent IS NULL
        UNION ALL
        SELECT c.trace_id, c.span_id, r.depth + 1, r.cum + c.dur,
               r.path || '>' || c.span_id
        FROM sp c JOIN rec r
          ON c.trace_id = r.trace_id AND c.parent = r.span_id
    )
"""


@register(
    "span_tree_depth",
    _TRACE_TREE_SQL
    + """
    SELECT s.trace_id, s.span_id, CAST(r.depth AS INT) AS depth,
           CAST(r.cum AS BIGINT) AS cum_us, r.path,
           r.depth IS NULL AS is_orphan
    FROM sp s LEFT JOIN rec r USING (trace_id, span_id)
    """,
)
def q_span_tree_depth(spark: SparkSession, sf: str) -> DataFrame:
    """Whole-tree span ancestry (operators/tracetree.py::span_tree_paths):
    level-synchronous BFS materializes depth, cumulative root-path
    duration, and the '>'-joined path per span, orphans flagged.  The
    oracle is a recursive CTE over the same closed-form heap-shaped
    fixture — the Spark BFS and SQL recursion must meet exactly."""
    from .operators.tracetree import span_tree_paths
    from .sources.spans import generate_trace_trees

    return span_tree_paths(generate_trace_trees(spark, 50, 12))


@register(
    "trace_critical_path",
    _TRACE_TREE_SQL
    + """
    SELECT trace_id, path AS critical_path, CAST(cum AS BIGINT) AS path_us,
           CAST(depth AS INT) AS path_depth
    FROM rec
    QUALIFY row_number() OVER (
        PARTITION BY trace_id ORDER BY cum DESC, path ASC
    ) = 1
    """,
)
def q_trace_critical_path(spark: SparkSession, sf: str) -> DataFrame:
    """Per-trace critical path (operators/tracetree.py::
    trace_critical_path): the root-to-leaf chain with the largest
    cumulative duration, ties to the lexicographically smallest path."""
    from .operators.tracetree import span_tree_paths, trace_critical_path
    from .sources.spans import generate_trace_trees

    return trace_critical_path(span_tree_paths(generate_trace_trees(spark, 50, 12)))


_TOPIC_DICT = {
    "databases": ["table", "row", "column", "join", "query"],
    "performance": ["fast", "slow", "scan", "hash"],
    "streaming": ["window", "batch", "stream"],
}
_TOPIC_SQL_CTE = """
    WITH t AS (SELECT doc_id, lower(text) AS lt FROM documents),
    c AS (
        SELECT doc_id, 'databases' AS topic,
               CAST(len(regexp_extract_all(lt,
                    '\\b(column|join|query|row|table)\\b')) AS BIGINT) AS n_matches
        FROM t
        UNION ALL
        SELECT doc_id, 'performance',
               CAST(len(regexp_extract_all(lt,
                    '\\b(fast|hash|scan|slow)\\b')) AS BIGINT)
        FROM t
        UNION ALL
        SELECT doc_id, 'streaming',
               CAST(len(regexp_extract_all(lt,
                    '\\b(batch|stream|window)\\b')) AS BIGINT)
        FROM t
    )
"""


@register(
    "text_topic_tags",
    _TOPIC_SQL_CTE
    + """
    SELECT doc_id, topic, n_matches FROM c WHERE n_matches > 0
    """,
)
def q_text_topic_tags(spark: SparkSession, sf: str) -> DataFrame:
    """Dictionary topic tagging (operators/textmine.py::
    keyword_topic_counts): one word-bounded alternation regex per topic,
    counted per document in a single scan-fused pass; sparse output (only
    matching topics).  Oracle replays each topic regex with DuckDB's
    regexp_extract_all."""
    from .operators.textmine import keyword_topic_counts

    return keyword_topic_counts(load(spark, sf, "documents"), _TOPIC_DICT)


@register(
    "text_topic_assign",
    _TOPIC_SQL_CTE
    + """
    , pos AS (SELECT * FROM c WHERE n_matches > 0),
    best AS (
        SELECT doc_id, topic, n_matches,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY n_matches DESC, topic) AS rn
        FROM pos
    )
    SELECT d.doc_id, b.topic,
           CAST(COALESCE(b.n_matches, 0) AS BIGINT) AS n_matches
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
    """,
)
def q_text_topic_assign(spark: SparkSession, sf: str) -> DataFrame:
    """Total argmax topic labeling (operators/textmine.py::assign_topics):
    highest match count wins, ties break to the lexicographically first
    topic name, no-match documents keep a NULL topic with count 0 — the
    join target for topic-balanced mixture sampling."""
    from .operators.textmine import assign_topics

    return assign_topics(load(spark, sf, "documents"), _TOPIC_DICT)


_DAILY_RATE_CTE = """
    WITH m AS (
        SELECT event_type AS k,
               CAST(epoch(date_trunc('day', ts)) // 86400 AS BIGINT) AS w,
               CAST(COUNT(*) AS BIGINT) AS v
        FROM events GROUP BY 1, 2
    )
"""


def _daily_rates(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events")
    return ev.groupBy(
        F.col("event_type").alias("k"),
        (F.unix_timestamp(F.date_trunc("day", "ts")) / 86400)
        .cast("long")
        .alias("w"),
    ).agg(F.count(F.lit(1)).cast("long").alias("v"))


@register(
    "anomaly_mad_daily",
    _DAILY_RATE_CTE
    + """
    , r AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY v, w) AS rv,
               COUNT(*) OVER (PARTITION BY k) AS n
        FROM m
    ),
    med AS (
        SELECT *, MAX(CASE WHEN rv = (n + 1) // 2 THEN v END)
                  OVER (PARTITION BY k) AS med
        FROM r
    ),
    d AS (
        SELECT k, w, v, med, n, ABS(v - med) AS abs_dev,
               ROW_NUMBER() OVER (PARTITION BY k ORDER BY ABS(v - med), w) AS rd
        FROM med
    ),
    mad AS (
        SELECT *, MAX(CASE WHEN rd = (n + 1) // 2 THEN abs_dev END)
                  OVER (PARTITION BY k) AS mad
        FROM d
    )
    SELECT k, w, v, med, abs_dev, mad,
           abs_dev * 2 > 7 * mad AS is_anomaly
    FROM mad
    """,
)
def q_anomaly_mad_daily(spark: SparkSession, sf: str) -> DataFrame:
    """Robust MAD outlier scoring (operators/anomaly.py::mad_anomaly) over
    per-type daily event rates — lower-median rule keeps median, MAD, and
    the 3.5-MAD (7/2) comparison exact integers; the oracle replays both
    rank picks and the integer threshold."""
    from .operators.anomaly import mad_anomaly

    return mad_anomaly(_daily_rates(spark, sf), ["k"], "w", "v")


@register(
    "anomaly_cusum_daily",
    _DAILY_RATE_CTE
    + """
    , p AS (
        SELECT k, w, v,
               SUM(v - 66 - 2) OVER pk AS p_hi,
               SUM(v - 66 + 2) OVER pk AS p_lo
        FROM m WINDOW pk AS (PARTITION BY k ORDER BY w
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    s AS (
        SELECT k, w, v,
               CAST(p_hi - LEAST(0, MIN(p_hi) OVER pk) AS BIGINT) AS s_high,
               CAST(GREATEST(0, MAX(p_lo) OVER pk) - p_lo AS BIGINT) AS s_low
        FROM p WINDOW pk AS (PARTITION BY k ORDER BY w
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT k, w, v, s_high, s_low,
           s_high >= 25 AS alarm_high, s_low >= 25 AS alarm_low
    FROM s
    """,
)
def q_anomaly_cusum_daily(spark: SparkSession, sf: str) -> DataFrame:
    """Two-sided CUSUM changepoint detection (operators/anomaly.py::
    cusum_changepoints) over per-type daily rates, target 66 / slack 2 /
    h 25 — the recursion's prefix-sum closed form replayed by the oracle
    on exact BIGINTs."""
    from .operators.anomaly import cusum_changepoints

    return cusum_changepoints(
        _daily_rates(spark, sf), ["k"], "w", "v", target=66, slack=2, h=25
    )


@register(
    "changepoint_locate_daily",
    _DAILY_RATE_CTE
    + """
    , st AS (
        SELECT k, w,
               CAST(ROW_NUMBER() OVER pk AS BIGINT) AS t,
               CAST(SUM(v) OVER (PARTITION BY k ORDER BY w
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s_t,
               CAST(COUNT(*) OVER (PARTITION BY k) AS BIGINT) AS n,
               CAST(SUM(v) OVER (PARTITION BY k) AS BIGINT) AS s
        FROM m WINDOW pk AS (PARTITION BY k ORDER BY w)
    )
    SELECT k,
           w AS split_at,
           t AS split_idx,
           CAST(ABS(n * s_t - t * s) AS BIGINT) AS c_max,
           ROUND(s_t / t, 4) AS mean_before,
           ROUND((s - s_t) / (n - t), 4) AS mean_after,
           ROUND((s - s_t) / (n - t) - s_t / t, 4) AS shift
    FROM st
    WHERE t < n
    QUALIFY ROW_NUMBER() OVER (PARTITION BY k
        ORDER BY ABS(n * s_t - t * s) DESC, t ASC) = 1
    """,
)
def q_changepoint_locate_daily(spark: SparkSession, sf: str) -> DataFrame:
    """Retrospective change-point localization (operators/anomaly.py::
    changepoint_locate) over the same per-type daily rates as the CUSUM
    alarm gate: t* = argmax |n*S(t) - t*S| (pure BIGINT, earliest on
    ties) places the level shift the Page test only signals; the oracle
    replays the argmax and the integer statistic."""
    from .operators.anomaly import changepoint_locate

    return changepoint_locate(_daily_rates(spark, sf), ["k"], "w", "v")


@register(
    "acf_period_hourly",
    """
    WITH m AS (
        SELECT event_type AS k,
               date_trunc('hour', ts) AS h,
               CAST(COUNT(*) AS BIGINT) AS v
        FROM events GROUP BY 1, 2
    ), st AS (
        SELECT k, v,
               CAST(ROW_NUMBER() OVER (PARTITION BY k ORDER BY h) AS BIGINT) AS t,
               CAST(COUNT(*) OVER (PARTITION BY k) AS BIGINT) AS n,
               CAST(SUM(v) OVER (PARTITION BY k) AS BIGINT) AS s
        FROM m
    ), d AS (
        SELECT k, t, CAST(n * v - s AS BIGINT) AS dd FROM st
    ), den AS (
        SELECT k, CAST(SUM(dd * dd) AS BIGINT) AS acf_den FROM d GROUP BY 1
    ), num AS (
        SELECT a.k, CAST(b.t - a.t AS BIGINT) AS lag,
               CAST(SUM(a.dd * b.dd) AS BIGINT) AS acf_num
        FROM d a JOIN d b ON a.k = b.k AND b.t - a.t BETWEEN 2 AND 36
        GROUP BY 1, 2
    )
    SELECT k, lag AS period, acf_num, acf_den,
           ROUND(acf_num / acf_den, 6) AS acf
    FROM num JOIN den USING (k)
    WHERE acf_den > 0
    QUALIFY ROW_NUMBER() OVER (PARTITION BY k
        ORDER BY acf_num DESC, lag ASC) = 1
    """,
)
def q_acf_period_hourly(spark: SparkSession, sf: str) -> DataFrame:
    """Dominant-period detection (operators/decompose.py::
    acf_dominant_period) over per-type hourly counts, lags 2..36 — the
    integer ACF argmax that finds the ``period`` argument
    ``seasonal_decompose`` and Holt-Winters need; the oracle replays
    the deviation products and the argmax on exact BIGINTs (its
    inequality self-join is the sf0.01 shape; the operator's explode +
    equi-join is the scale path)."""
    from .operators.decompose import acf_dominant_period

    ev = load(spark, sf, "events")
    m = ev.groupBy(
        F.col("event_type").alias("k"),
        F.date_trunc("hour", "ts").alias("h"),
    ).agg(F.count(F.lit(1)).cast("long").alias("v"))
    return acf_dominant_period(m, ["k"], "h", "v", max_lag=36)


@register(
    "ccf_lead_lag_hourly",
    """
    WITH m AS (
        SELECT user_id % 3 AS k,
               CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS t,
               event_type AS series,
               CAST(COUNT(*) AS BIGINT) AS v
        FROM events WHERE event_type IN ('click', 'error')
        GROUP BY 1, 2, 3
    ), dev AS (
        SELECT k, t, series,
               CAST(COUNT(*) OVER pk * v - SUM(v) OVER pk AS BIGINT) AS d
        FROM m WINDOW pk AS (PARTITION BY k, series)
    ), den AS (
        SELECT k,
               CAST(SUM(CASE WHEN series = 'click' THEN d * d END)
                    AS BIGINT) AS den_a,
               CAST(SUM(CASE WHEN series = 'error' THEN d * d END)
                    AS BIGINT) AS den_b
        FROM dev GROUP BY 1
    ), num AS (
        SELECT a.k, CAST(b.t - a.t AS BIGINT) AS lag,
               CAST(SUM(a.d * b.d) AS BIGINT) AS ccf_num
        FROM dev a JOIN dev b
          ON a.k = b.k AND a.series = 'click' AND b.series = 'error'
         AND b.t - a.t BETWEEN -6 AND 6
        GROUP BY 1, 2
    )
    SELECT k, lag, ccf_num, den_a, den_b,
           ROUND(ccf_num / SQRT(CAST(den_a AS DOUBLE) * den_b), 6) AS ccf
    FROM num JOIN den USING (k)
    WHERE den_a > 0 AND den_b > 0
    QUALIFY ROW_NUMBER() OVER (PARTITION BY k
        ORDER BY ccf_num DESC, ABS(lag) ASC, lag ASC) = 1
    """,
)
def q_ccf_lead_lag_hourly(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-correlation lead-lag (operators/decompose.py::ccf_lead_lag)
    between click and error hourly rates per user_id%3 segment, lags
    -6..+6 on the epoch-hour grid — the exact-integer argmax that says
    which series leads and by how much; the oracle replays deviations,
    cross products, and the (num desc, |lag|, lag) argmax."""
    from .operators.decompose import ccf_lead_lag

    ev = load(spark, sf, "events")
    m = (
        ev.where(F.col("event_type").isin("click", "error"))
        .groupBy(
            (F.col("user_id") % 3).alias("k"),
            (F.unix_timestamp(F.date_trunc("hour", "ts")) / 3600)
            .cast("long")
            .alias("t"),
            F.col("event_type").alias("series"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("v"))
    )
    return ccf_lead_lag(m, ["k"], "t", "v", "series", "click", "error", max_lag=6)


@register(
    "robust_means_daily",
    _DAILY_RATE_CTE
    + """
    , ranked AS (
        SELECT k, v,
               CAST(ROW_NUMBER() OVER (PARTITION BY k ORDER BY v)
                    AS BIGINT) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY k) AS BIGINT) AS n
        FROM m
    ), lim AS (
        SELECT k, v, rn, n, CAST((n * 1) // 10 AS BIGINT) AS kt
        FROM ranked
    ), mid AS (
        SELECT k,
               CAST(MAX(n) AS BIGINT) AS n,
               CAST(MAX(kt) AS BIGINT) AS k_tail,
               CAST(SUM(v) AS BIGINT) AS trimmed_sum,
               CAST(COUNT(*) AS BIGINT) AS trimmed_n,
               CAST(MIN(v) AS BIGINT) AS lo,
               CAST(MAX(v) AS BIGINT) AS hi
        FROM lim WHERE rn > kt AND rn <= n - kt GROUP BY k
    )
    SELECT k, n, k_tail, trimmed_sum, trimmed_n,
           ROUND(trimmed_sum / trimmed_n, 4) AS trimmed_mean,
           CAST(trimmed_sum + k_tail * (lo + hi) AS BIGINT) AS winsor_sum,
           ROUND((trimmed_sum + k_tail * (lo + hi)) / n, 4) AS winsor_mean
    FROM mid
    """,
)
def q_robust_means_daily(spark: SparkSession, sf: str) -> DataFrame:
    """Trimmed and winsorized means (operators/robustfit.py::
    trimmed_stats) of per-type daily rates, 10% per tail — robust
    LOCATION beside Theil-Sen's robust trend; the oracle replays the
    rank cut and both integer sums."""
    from .operators.robustfit import trimmed_stats

    return trimmed_stats(_daily_rates(spark, sf), ["k"], "v", 1, 10)


@register(
    "traffic_concentration",
    """
    WITH m AS (
        SELECT event_type AS k, user_id,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM events GROUP BY 1, 2
    ), ranked AS (
        SELECT k, w,
               CAST(ROW_NUMBER() OVER (PARTITION BY k ORDER BY w)
                    AS BIGINT) AS i,
               CAST(COUNT(*) OVER (PARTITION BY k) AS BIGINT) AS n
        FROM m
    ), agg AS (
        SELECT k,
               CAST(MAX(n) AS BIGINT) AS n,
               CAST(SUM(w) AS BIGINT) AS total,
               CAST(SUM((2 * i - n - 1) * w) AS BIGINT) AS gini_num,
               CAST(MAX((n * 1 + 99) // 100) AS BIGINT) AS top1pct_n,
               CAST(SUM(CASE WHEN i > n - ((n * 1 + 99) // 100)
                        THEN w ELSE 0 END) AS BIGINT) AS top1pct_sum,
               CAST(MAX((n * 1 + 9) // 10) AS BIGINT) AS top10pct_n,
               CAST(SUM(CASE WHEN i > n - ((n * 1 + 9) // 10)
                        THEN w ELSE 0 END) AS BIGINT) AS top10pct_sum
        FROM ranked GROUP BY k
    )
    SELECT k, n, total, gini_num,
           ROUND(gini_num / (n * total), 6) AS gini,
           top1pct_n, top1pct_sum,
           ROUND(top1pct_sum / total, 6) AS top1pct_share,
           top10pct_n, top10pct_sum,
           ROUND(top10pct_sum / total, 6) AS top10pct_share
    FROM agg WHERE total > 0
    """,
)
def q_traffic_concentration(spark: SparkSession, sf: str) -> DataFrame:
    """Traffic concentration readout (operators/profile.py::
    concentration_stats): Gini coefficient + Lorenz top-1%/top-10%
    shares of per-user event volume within each event type — the
    whole-distribution score beside skew_report's named heavy keys;
    the oracle replays ranks and both integer sums."""
    from .operators.profile import concentration_stats

    ev = load(spark, sf, "events")
    m = ev.groupBy(F.col("event_type").alias("k"), "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("w")
    )
    return concentration_stats(m, ["k"], "w")


@register(
    "lateness_profile_events",
    """
    WITH s AS (
        SELECT event_type AS k, event_id,
               CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec
        FROM events
    ), lat AS (
        SELECT k,
               COALESCE(GREATEST(0,
                   MAX(sec) OVER (PARTITION BY k ORDER BY event_id, sec
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   - sec), 0) AS late
        FROM s
    ), ranked AS (
        SELECT k, late,
               CAST(ROW_NUMBER() OVER (PARTITION BY k ORDER BY late)
                    AS BIGINT) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY k) AS BIGINT) AS n
        FROM lat
    )
    SELECT k,
           CAST(MAX(n) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN late > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_late,
           CAST(SUM(CASE WHEN late > 0 THEN 1 ELSE 0 END) * 1000000
                // MAX(n) AS BIGINT) AS late_ppm,
           CAST(MAX(late) AS BIGINT) AS max_late_s,
           CAST(MAX(CASE WHEN rn = (n * 95 + 99) // 100 THEN late END)
                AS BIGINT) AS p95_late_s,
           CAST(MAX(CASE WHEN rn = (n * 99 + 99) // 100 THEN late END)
                AS BIGINT) AS p99_late_s
    FROM ranked GROUP BY k
    """,
)
def q_lateness_profile_events(spark: SparkSession, sf: str) -> DataFrame:
    """Event-time lateness audit (operators/lateness.py::
    lateness_profile) per event type, arrival order = event_id: how far
    behind the event-time frontier events arrive, and the exact
    nearest-rank p95/p99 lateness = the watermark that would have
    admitted that share.  The oracle replays frontier, ranks, and ppm
    on exact BIGINTs."""
    from .operators.lateness import lateness_profile

    ev = load(spark, sf, "events")
    return lateness_profile(
        ev.select(F.col("event_type").alias("k"), "event_id", "ts"),
        ["k"],
        "event_id",
        "ts",
    )


@register(
    "interval_overlap_sessions",
    """
    WITH iv AS (
        SELECT user_id, event_type,
               CAST(user_id * 10 + CASE event_type
                    WHEN 'click' THEN 1 ELSE 2 END AS BIGINT) AS iid,
               CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS lo,
               CAST(FLOOR(epoch(MAX(ts))) + 1 AS BIGINT) AS hi
        FROM events WHERE event_type IN ('click', 'error')
        GROUP BY 1, 2
    ), a AS (SELECT user_id, iid, lo, hi FROM iv WHERE event_type = 'click'),
       b AS (SELECT user_id, iid, lo, hi FROM iv WHERE event_type = 'error')
    SELECT a.user_id,
           a.iid AS click_iv,
           b.iid AS error_iv,
           GREATEST(a.lo, b.lo) AS overlap_lo,
           LEAST(a.hi, b.hi) AS overlap_hi,
           CAST(LEAST(a.hi, b.hi) - GREATEST(a.lo, b.lo) AS BIGINT)
               AS overlap_len
    FROM a JOIN b ON a.user_id = b.user_id
     AND a.lo < b.hi AND b.lo < a.hi
    """,
)
def q_interval_overlap_sessions(spark: SparkSession, sf: str) -> DataFrame:
    """Interval-overlap join (operators/ranges.py::interval_overlap_join):
    per-user click activity windows x error windows, half-open [lo, hi),
    bucketed equi-join scale path (3600 s buckets) vs the oracle's naive
    inequality join — identical pairs prove the bucket cover is
    lossless."""
    from .operators.ranges import interval_overlap_join

    ev = load(spark, sf, "events").where(
        F.col("event_type").isin("click", "error")
    )
    iv = (
        ev.groupBy("user_id", "event_type")
        .agg(
            F.unix_timestamp(F.min("ts")).alias("lo"),
            (F.unix_timestamp(F.max("ts")) + 1).alias("hi"),
        )
        .withColumn(
            "iid",
            (
                F.col("user_id") * 10
                + F.when(F.col("event_type") == "click", 1).otherwise(2)
            ).cast("long"),
        )
    )
    a = iv.where(F.col("event_type") == "click").select("user_id", "iid", "lo", "hi")
    b = iv.where(F.col("event_type") == "error").select("user_id", "iid", "lo", "hi")
    out = interval_overlap_join(
        a, b, "iid", "iid", bucket_size=3600, key_cols=["user_id"]
    )
    return out.select(
        "user_id",
        F.col("left_id").alias("click_iv"),
        F.col("right_id").alias("error_iv"),
        "overlap_lo",
        "overlap_hi",
        "overlap_len",
    )


@register(
    "streaming_lateness",
    """
    WITH s AS (
        SELECT event_type AS k, event_id,
               CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec
        FROM events
    ), lat AS (
        SELECT k,
               COALESCE(GREATEST(0,
                   MAX(sec) OVER (PARTITION BY k ORDER BY event_id, sec
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   - sec), 0) AS late
        FROM s
    )
    SELECT k,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN late > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_late,
           CAST(MAX(late) AS BIGINT) AS max_late_s,
           CAST(SUM(late) AS BIGINT) AS sum_late_s
    FROM lat GROUP BY k
    """,
)
def q_streaming_lateness(spark: SparkSession, sf: str) -> DataFrame:
    """The lateness audit maintained ACROSS micro-batches
    (streaming/lateness.py::lateness_stateful): the events table is
    staged as two arrival-split files replayed as two triggers with the
    per-key frontier in applyInPandasWithState — second-batch lateness
    depends on first-batch state, and the aggregated output still
    matches the batch frontier-replay oracle (stream == batch is the
    gate)."""
    import glob
    import os
    import shutil
    import tempfile

    from .streaming.lateness import lateness_stateful

    src = load(spark, sf, "events").select(
        F.col("event_type").alias("key"),
        F.col("event_id").cast("long").alias("arrival"),
        F.unix_timestamp(F.col("ts")).cast("long").alias("event_sec"),
    )
    split = src.agg(F.percentile_approx("arrival", 0.5).cast("long")).collect()[0][0]
    tmp = tempfile.mkdtemp(prefix="late_gate_")
    data = f"{tmp}/data"
    os.makedirs(data)
    try:
        for n, part_df in enumerate(
            [src.where(F.col("arrival") < split), src.where(F.col("arrival") >= split)]
        ):
            stage = f"{tmp}/stage{n}"
            part_df.coalesce(1).write.parquet(stage)
            shutil.copy(
                glob.glob(f"{stage}/part-*.parquet")[0],
                f"{data}/{n:03d}.parquet",
            )
            os.utime(f"{data}/{n:03d}.parquet", (1000 + n, 1000 + n))
        stream = (
            spark.readStream.schema(src.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(data)
        )
        out = lateness_stateful(stream, "key", "arrival", "event_sec")
        sunk = _run_stream_gate(spark, out, "stream_gate_lateness", mode="update")
        agg = sunk.groupBy(F.col("key").alias("k")).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("late_s") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_late"),
            F.max("late_s").cast("long").alias("max_late_s"),
            F.sum("late_s").cast("long").alias("sum_late_s"),
        )
        return spark.createDataFrame(agg.collect(), agg.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _rbo_oracle_sql() -> str:
    """Oracle for rbo_trending_halves — the depth weights are the SAME
    driver-computed micro-floored literals the operator inlines (pow is
    not cross-engine reproducible; a shared literal table is)."""
    from .operators.relevance import _rbo_weights_micro

    depth = 30
    weights = _rbo_weights_micro(9, 10, depth)
    wvals = ", ".join(f"({d + 1}, {w})" for d, w in enumerate(weights))
    return f"""
    WITH b AS (
        SELECT CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS mn,
               CAST(FLOOR(epoch(MAX(ts))) AS BIGINT) AS mx
        FROM events
    ), s AS (
        SELECT event_type AS k, user_id,
               CASE WHEN CAST(FLOOR(epoch(ts)) AS BIGINT) * 2 < mn + mx
                    THEN 'a' ELSE 'b' END AS half
        FROM events, b
    ), counts AS (
        SELECT k, half, user_id, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM s GROUP BY 1, 2, 3
    ), ranked AS (
        SELECT k, half, user_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY k, half
                    ORDER BY cnt DESC, user_id ASC) AS BIGINT) AS r
        FROM counts
        QUALIFY r <= {depth}
    ), shared AS (
        SELECT a.k, GREATEST(a.r, bb.r) AS m
        FROM ranked a JOIN ranked bb
          ON a.k = bb.k AND a.user_id = bb.user_id
         AND a.half = 'a' AND bb.half = 'b'
    ), entry AS (
        SELECT k, m, CAST(COUNT(*) AS BIGINT) AS c FROM shared GROUP BY 1, 2
    ), grid AS (
        SELECT DISTINCT k, d
        FROM (SELECT k FROM ranked), (SELECT UNNEST(RANGE(1, {depth + 1})) AS d)
    ), cum AS (
        SELECT g.k, g.d,
               CAST(SUM(COALESCE(e.c, 0)) OVER (PARTITION BY g.k
                    ORDER BY g.d ROWS UNBOUNDED PRECEDING) AS BIGINT) AS a
        FROM grid g LEFT JOIN entry e ON g.k = e.k AND g.d = e.m
    ), w(d, wm) AS (VALUES {wvals}),
    terms AS (
        SELECT cum.k, cum.d, cum.a,
               CAST((cum.a * w.wm) // cum.d AS BIGINT) AS term
        FROM cum JOIN w ON cum.d = w.d
    )
    SELECT k,
           CAST(MAX(CASE WHEN d = {depth} THEN a END) AS BIGINT)
               AS shared_at_depth,
           CAST(SUM(term) AS BIGINT) AS rbo_micro,
           ROUND(SUM(term) / 1000000.0, 6) AS rbo
    FROM terms GROUP BY k
    """


@register("rbo_trending_halves", _rbo_oracle_sql())
def q_rbo_trending_halves(spark: SparkSession, sf: str) -> DataFrame:
    """Rank-biased overlap (operators/relevance.py::rbo, Webber 2010)
    between each event type's top-30 users by volume in the first vs
    second half of the time range — the top-weighted ranking-similarity
    readout (p = 0.9); depth weights are shared driver-computed
    literals, every term pure BIGINT."""
    from pyspark.sql.window import Window

    from .operators.relevance import rbo

    depth = 30
    ev = load(spark, sf, "events").select(
        F.col("event_type").alias("k"),
        "user_id",
        F.unix_timestamp("ts").cast("long").alias("sec"),
    )
    bounds = ev.agg(
        F.min("sec").alias("mn"), F.max("sec").alias("mx")
    )
    halved = ev.crossJoin(F.broadcast(bounds)).withColumn(
        "half",
        F.when(F.col("sec") * 2 < F.col("mn") + F.col("mx"), "a").otherwise("b"),
    )
    counts = halved.groupBy("k", "half", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    win = Window.partitionBy("k", "half").orderBy(
        F.col("cnt").desc(), F.col("user_id").asc()
    )
    ranked = counts.withColumn("r", F.row_number().over(win).cast("long")).where(
        F.col("r") <= depth
    )
    a = ranked.where(F.col("half") == "a").select("k", "user_id", "r")
    b = ranked.where(F.col("half") == "b").select("k", "user_id", "r")
    return rbo(a, b, ["k"], "user_id", "r", 9, 10, depth)


@register(
    "logfmt_roundtrip",
    """
    WITH enc AS (
        SELECT event_id,
               'type=' || event_type
               || ' user=' || CAST(user_id AS VARCHAR)
               || ' props=' || CASE
                    WHEN props = '' OR regexp_matches(props, '[\\s"=\\\\]')
                    THEN '"' || replace(replace(props, '\\', '\\\\'),
                                        '"', '\\"') || '"'
                    ELSE props END AS line,
               event_type, user_id, props
        FROM events
    )
    SELECT event_id, line,
           event_type AS type,
           CAST(user_id AS VARCHAR) AS "user",
           props,
           CAST(NULL AS VARCHAR) AS missing
    FROM enc
    """,
)
def q_logfmt_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """logfmt wire format (sources/decoders.py::encode_logfmt /
    ::decode_logfmt): events rendered through the real encoder (the
    go-kit quoting rule — quote iff empty or whitespace/quote/=/
    backslash, escape inside), then decoded back by the regex decoder.
    The oracle re-implements the ENCODER in SQL (independent quoting
    arithmetic, hashed line-for-line) and pins the decoded fields to
    the source columns — encoder checked against a second
    implementation, decoder checked by inversion."""
    from .sources.decoders import decode_logfmt, encode_logfmt

    ev = load(spark, sf, "events")
    enc = ev.select(
        "event_id",
        encode_logfmt(
            {
                "type": F.col("event_type"),
                "user": F.col("user_id"),
                "props": F.col("props"),
            }
        ).alias("line"),
    )
    dec = decode_logfmt(enc, ["type", "user", "props", "missing"], "line")
    return dec.select("event_id", "line", "type", "user", "props", "missing")


@register(
    "validate_expectations_events",
    """
    WITH t AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN NOT COALESCE(event_id IS NOT NULL, FALSE)
                        THEN 1 ELSE 0 END) AS BIGINT) AS v_id,
               CAST(SUM(CASE WHEN NOT COALESCE(
                        event_type IN ('click','view','signup','purchase','error'),
                        FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v_type,
               CAST(SUM(CASE WHEN NOT COALESCE(
                        json_extract_string(props, '$.k') IS NOT NULL, FALSE)
                        THEN 1 ELSE 0 END) AS BIGINT) AS v_props,
               CAST(SUM(CASE WHEN NOT COALESCE(
                        user_id >= 0 AND user_id < 150, FALSE)
                        THEN 1 ELSE 0 END) AS BIGINT) AS v_user,
               CAST(SUM(CASE WHEN NOT COALESCE(
                        "value" > 0 AND "value" < 400, FALSE)
                        THEN 1 ELSE 0 END) AS BIGINT) AS v_value
        FROM events
    )
    SELECT r.rule, t.n AS n_rows, r.v AS n_violations,
           r.v * 1000000 // GREATEST(t.n, 1) AS violation_ppm
    FROM t, LATERAL (VALUES
        ('event_id_not_null', v_id),
        ('event_type_known', v_type),
        ('props_has_k', v_props),
        ('user_id_in_range', v_user),
        ('value_in_range', v_value)
    ) AS r(rule, v)
    """,
)
def q_validate_expectations_events(spark: SparkSession, sf: str) -> DataFrame:
    """Data-quality expectation audit (operators/validate.py::
    validate_expectations): five named row predicates fused into ONE
    ungrouped aggregate pass (NULL predicate = violation), exploded to a
    per-rule report with exact integer parts-per-million rates."""
    from .operators.validate import validate_expectations

    ev = load(spark, sf, "events")
    return validate_expectations(
        ev,
        {
            "event_id_not_null": F.col("event_id").isNotNull(),
            "event_type_known": F.col("event_type").isin(
                "click", "view", "signup", "purchase", "error"
            ),
            "props_has_k": F.get_json_object("props", "$.k").isNotNull(),
            "user_id_in_range": (F.col("user_id") >= 0) & (F.col("user_id") < 150),
            "value_in_range": (F.col("value") > 0) & (F.col("value") < 400),
        },
    )


@register(
    "template_novelty_daily",
    """
    WITH lines AS (
        SELECT ts,
               'svc=' || event_type || ' route=/api/'
               || CASE WHEN datepart('day', ts) >= 15
                       THEN 'beta' ELSE 'stable' END
               || '/' || CAST(event_id % 100 AS VARCHAR)
               || ' user=' || CAST(user_id AS VARCHAR) AS text
        FROM events
    ),
    masked AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS period,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(text,
                         '[0-9]{4}-[0-9]{2}-[0-9]{2}T[0-9]{2}:[0-9]{2}:[0-9]{2}(\\.[0-9]+)?Z?',
                         '<TS>', 'g'),
                       '[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}',
                       '<UUID>', 'g'),
                     '\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '<IP>', 'g'),
                   '0x[0-9a-fA-F]+|\\b[0-9a-fA-F]{16,}\\b', '<HEX>', 'g'),
                 '\\b[0-9]+(\\.[0-9]+)?\\b', '<NUM>', 'g') AS template
        FROM lines
    ),
    tp AS (
        SELECT template, period, CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM masked GROUP BY 1, 2
    ),
    f AS (
        SELECT *, MIN(period) OVER (PARTITION BY template) AS fp FROM tp
    )
    SELECT period, CAST(SUM(n_lines) AS BIGINT) AS n_lines,
           CAST(COUNT(*) AS BIGINT) AS n_templates,
           CAST(SUM(CASE WHEN period = fp THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new_templates
    FROM f GROUP BY 1
    """,
)
def q_template_novelty_daily(spark: SparkSession, sf: str) -> DataFrame:
    """Per-day template novelty (operators/textmine.py::template_novelty):
    log lines synthesized from events flip a route token from 'stable' to
    'beta' on day 15, so five new structural templates first appear mid
    month — the what-started-appearing feed.  Oracle replays the masking
    chain, first-seen window, and per-period rollup."""
    from .operators.textmine import template_novelty

    ev = load(spark, sf, "events")
    lines = ev.select(
        "ts",
        F.concat(
            F.lit("svc="),
            F.col("event_type"),
            F.lit(" route=/api/"),
            F.when(F.dayofmonth("ts") >= 15, F.lit("beta")).otherwise(
                F.lit("stable")
            ),
            F.lit("/"),
            (F.col("event_id") % 100).cast("string"),
            F.lit(" user="),
            F.col("user_id").cast("string"),
        ).alias("text"),
    )
    return template_novelty(lines)


# ---------------------------------------------------------------------------
# Anchor-text corpus (operators/webgraph.py) — the classic cross-host
# retrieval signal built from the linked-pages fixture.  The oracle replays
# the generator's anchor shapes closed-form: per id, an absolute link (text
# 'x'), a protocol-relative hot link on multiples of 5 ('w'), a
# fragment-stripped link on multiples of 7 ('f'), and an uppercase-tag hot
# link on multiples of 13 ('U'); root/dir-relative and noise anchors resolve
# to the page's own host or to NULL and never survive the cross-host filter.
# ---------------------------------------------------------------------------
_ANCHOR_PAIRS_SQL = """
    WITH ids AS (SELECT id FROM range(4000) t(id)),
    pairs AS (
        SELECT 'https://d' || ((id * 3) % 47) || '.example.org/p/' || (id % 97)
                   AS link,
               'x' AS anchor_text
        FROM ids WHERE NOT (id % 47 = 0 AND id % 5 <> 0)
        UNION ALL
        SELECT 'https://hot' || ((id + 1) % 3) || '.example.com/pp', 'w'
        FROM ids WHERE id % 5 = 0
        UNION ALL
        SELECT 'https://d' || (id % 47) || '.example.org/f', 'f'
        FROM ids WHERE id % 7 = 0 AND id % 5 = 0
        UNION ALL
        SELECT 'https://hot' || (id % 3) || '.example.com/u', 'U'
        FROM ids WHERE id % 13 = 0 AND id % 5 <> 0
        UNION ALL
        -- wrapped anchor (<b>big</b> + newline + deal): tag-stripped and
        -- whitespace-collapsed text; the image anchor (every 19th id) is
        -- textless and dropped here
        SELECT 'https://b' || (id % 7) || '.example.net/d', 'big deal'
        FROM ids WHERE id % 17 = 0
    ),
    counts AS (
        SELECT link, anchor_text, CAST(COUNT(*) AS BIGINT) AS n_refs
        FROM pairs GROUP BY link, anchor_text
    )
"""


@register(
    "anchor_text_counts",
    _ANCHOR_PAIRS_SQL + "SELECT link, anchor_text, n_refs FROM counts",
)
def q_anchor_text_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-host anchor corpus (operators/webgraph.py::anchor_text_counts):
    (target link, collapsed anchor text, reference count) with same-host
    navigation anchors and textless anchors dropped — the signal table a
    retrieval index joins per target document."""
    from .operators.webgraph import anchor_text_counts
    from .sources.pages import generate_linked_pages

    return anchor_text_counts(generate_linked_pages(spark, 4000, replayable=True))


@register(
    "anchor_text_topk",
    _ANCHOR_PAIRS_SQL
    + """
    SELECT link, anchor_text, n_refs, CAST(rn AS INT) AS rank
    FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY link
                   ORDER BY n_refs DESC, anchor_text ASC) AS rn
        FROM counts
    ) WHERE rn <= 2
    """,
)
def q_anchor_text_topk(spark: SparkSession, sf: str) -> DataFrame:
    """First-2 anchor texts per target (webgraph.py::top_anchor_texts) via
    the skew-proof two_phase_top_n — a hot homepage target never sorts its
    full anchor set on one task.  (n_refs desc, text asc) is a total order
    because (link, text) is unique after the count."""
    from .operators.webgraph import top_anchor_texts
    from .sources.pages import generate_linked_pages

    return top_anchor_texts(generate_linked_pages(spark, 4000, replayable=True), k=2)


@register(
    "sitemap_parse",
    """
    WITH h AS (
        SELECT id, 'd' || id || '.example.org' AS host,
               'https://d' || id || '.example.org' AS base
        FROM range(200) t(id)
    )
    SELECT host, 'sitemap' AS kind, base || '/s1.xml' AS loc,
           TIMESTAMP '2026-01-10 00:00:00' AS lastmod_ts,
           CAST(NULL AS VARCHAR) AS changefreq,
           CAST(NULL AS DOUBLE) AS priority
    FROM h WHERE id % 4 = 0
    UNION ALL
    SELECT host, 'sitemap', base || '/s2.xml', NULL, NULL, NULL
    FROM h WHERE id % 4 = 0
    UNION ALL
    SELECT host, 'url', base || '/p/0',
           TRY_CAST('2026-03-15 04:' || lpad(CAST(id % 60 AS VARCHAR), 2, '0')
                    || ':06' AS TIMESTAMP),
           NULL, NULL
    FROM h WHERE id % 4 <> 0
    UNION ALL
    SELECT host, 'url', base || '/p/1', NULL,
           CASE id % 3 WHEN 0 THEN 'daily' WHEN 1 THEN 'weekly'
                ELSE 'monthly' END,
           NULL
    FROM h WHERE id % 4 <> 0
    UNION ALL
    SELECT host, 'url', base || '/p/2', NULL, NULL, (id % 9 + 1) / 10.0
    FROM h WHERE id % 4 <> 0
    """,
)
def q_sitemap_parse(spark: SparkSession, sf: str) -> DataFrame:
    """Sitemap XML parse (operators/sitemaps.py::parse_sitemaps): urlset
    and sitemapindex entries with whitespace-trimmed locs, case-insensitive
    tags, W3C lastmod (date-only and full timestamp), lowercased
    changefreq, double priority, and loc-less entries dropped.  The oracle
    rebuilds every entry closed-form from the fixture's id rules."""
    from .operators.sitemaps import parse_sitemaps
    from .sources.pages import generate_sitemaps

    return parse_sitemaps(generate_sitemaps(spark, 200))


@register(
    "robots_sitemap_urls",
    """
    SELECT 'd' || id || '.example.org' AS host,
           'https://x/s.xml' AS sitemap_url
    FROM range(1400) t(id) WHERE id % 7 = 0
    """,
)
def q_robots_sitemap_urls(spark: SparkSession, sf: str) -> DataFrame:
    """Sitemap discovery from robots.txt (operators/sitemaps.py::
    robots_sitemap_urls): the non-group RFC 9309 Sitemap field extracted
    case-insensitively from the robots fixture, whose every-7th host
    carries one in its tail noise."""
    from .operators.sitemaps import robots_sitemap_urls
    from .sources.pages import generate_robots

    return robots_sitemap_urls(generate_robots(spark, 1400))


@register(
    "fetch_schedule_slots",
    """
    WITH f AS (
        SELECT id AS url_id,
               'd' || (id % 40) || '.example.org' AS host,
               'https://d' || (id % 40) || '.example.org/p/' || id AS url,
               (id * 7919) % 101 AS priority
        FROM range(4000) t(id)
    ),
    d AS (
        SELECT 'd' || id || '.example.org' AS host,
               (id % 4) + 1 AS delay_s
        FROM range(40) t(id) WHERE id % 2 = 0
    ),
    ranked AS (
        SELECT f.url_id, f.url, f.host,
               CAST(row_number() OVER (
                   PARTITION BY f.host
                   ORDER BY f.priority DESC, f.url_id ASC) - 1 AS INT) AS slot,
               COALESCE(d.delay_s, 1) AS delay_s
        FROM f LEFT JOIN d ON f.host = d.host
    )
    SELECT url_id, url, host, slot,
           TIMESTAMP '2026-06-01 00:00:00'
               + slot * delay_s * INTERVAL 1 SECOND AS scheduled_at
    FROM ranked
    """,
)
def q_fetch_schedule_slots(spark: SparkSession, sf: str) -> DataFrame:
    """Politeness scheduling (operators/recrawl.py::schedule_fetches):
    per-host fetch slots by (priority desc, url_id) with broadcast
    Crawl-delay lookup (odd hosts fall back to the 1s default) and
    wall-clock slot times; the oracle replays the rank and the timestamp
    arithmetic."""
    from .operators.recrawl import schedule_fetches
    from .sources.pages import generate_crawl_delays, generate_prioritized_frontier

    return schedule_fetches(
        generate_prioritized_frontier(spark, 4000, 40),
        generate_crawl_delays(spark, 40),
    )


@register(
    "refetch_decisions",
    """
    WITH f AS (
        SELECT id, id % 7 AS kind,
               'https://d' || (id % 40) || '.example.org/p/' || id AS url,
               172800 - (id % 48) * 3600 AS age_s
        FROM range(4000) t(id)
    )
    SELECT url,
           CAST(age_s AS BIGINT) AS age_s,
           CAST(CASE WHEN kind = 0 THEN 86400
                     WHEN kind = 1 THEN 60
                     WHEN kind = 2 THEN 86400
                     WHEN kind = 5 THEN 999999999 END AS BIGINT) AS max_age,
           CASE
               WHEN kind = 2 THEN 'refetch'                  -- no-store
               WHEN kind = 5 THEN 'fresh'                    -- huge max-age
               WHEN kind = 0 AND age_s <= 86400 THEN 'fresh'
               WHEN kind IN (1, 6) THEN 'revalidate'         -- ETag
               WHEN kind = 3 THEN 'revalidate'               -- Last-Modified
               ELSE 'refetch'
           END AS decision
    FROM f
    """,
)
def q_refetch_decisions(spark: SparkSession, sf: str) -> DataFrame:
    """HTTP freshness decisions (operators/recrawl.py::refetch_decision)
    over the seven-header-shape fixture at now = 2026-06-03T00Z: max-age
    vs age, no-store/no-cache token tests, validator fallback.  The
    oracle replays the RFC 9111 decision table closed-form per (shape,
    age)."""
    from .operators.recrawl import refetch_decision
    from .sources.pages import generate_fetch_headers

    out = refetch_decision(
        generate_fetch_headers(spark, 4000), now_ts="2026-06-03 00:00:00"
    )
    return out.select("url", "age_s", "max_age", "decision")


@register(
    "decode_html_charset",
    """
    SELECT CAST(id AS BIGINT) AS doc_id,
           CASE id % 7
               WHEN 0 THEN '<meta charset="utf-8"><p>café ' || id
               WHEN 1 THEN '<meta charset="iso-8859-1"><p>café ' || id
               WHEN 2 THEN '<meta charset="windows-1252"><p>“q” ' || id
               WHEN 3 THEN '<p>bom ' || id
               WHEN 4 THEN '<p>plain ' || id
               WHEN 5 THEN '<meta charset="Latin1"><p>€ price ' || id
               ELSE '<meta charset="utf-8"><p>x' || chr(65533) || 'y ' || id
           END AS text
    FROM range(4000) t(id)
    """,
)
def q_decode_html_charset(spark: SparkSession, sf: str) -> DataFrame:
    """Charset-aware byte decoding (sources/decoders.py::decode_html_text)
    over the seven-encoding fixture: BOM > declared label (WHATWG latin1 →
    cp1252 fold) > UTF-8, invalid bytes to U+FFFD.  Oracle states every
    decoded string closed-form, so one wrong codepoint anywhere fails the
    hash."""
    from .sources.decoders import decode_html_text
    from .sources.pages import generate_encoded_pages

    out = decode_html_text(generate_encoded_pages(spark, 4000))
    return out.select("doc_id", "text")


@register(
    "crawl_budget_allocation",
    """
    WITH h AS (
        SELECT 'h' || lpad(CAST(id AS VARCHAR), 3, '0') AS host,
               (id * 7919) % 1000 AS weight
        FROM range(500) t(id)
    ),
    tot AS (SELECT SUM(weight) AS W FROM h),
    calc AS (
        SELECT host, CAST(weight AS BIGINT) AS weight,
               (100000 * weight) // W AS base,
               (100000 * weight) % W AS rem
        FROM h, tot
    ),
    lo AS (SELECT 100000 - SUM(base) AS L FROM calc),
    ranked AS (
        SELECT *, row_number() OVER (ORDER BY rem DESC, host ASC) AS rn
        FROM calc
    )
    SELECT host, weight,
           CAST(base + CASE WHEN rn <= (SELECT L FROM lo) THEN 1 ELSE 0 END
                AS BIGINT) AS allocation
    FROM ranked
    """,
)
def q_crawl_budget_allocation(spark: SparkSession, sf: str) -> DataFrame:
    """Largest-remainder budget apportionment (operators/recrawl.py::
    allocate_crawl_budget): 100k fetches over 500 weighted hosts,
    SUM(allocation) == budget exactly.  The oracle ranks remainders with
    a global window (fine in DuckDB); the Spark side must reach the same
    +1 set through the TakeOrderedAndProject threshold broadcast."""
    from .operators.recrawl import allocate_crawl_budget

    hosts = spark.range(500).select(
        F.concat(
            F.lit("h"), F.lpad(F.col("id").cast("string"), 3, "0")
        ).alias("host"),
        F.pmod(F.col("id") * F.lit(7919), F.lit(1000)).cast("long").alias(
            "weight"
        ),
    )
    return allocate_crawl_budget(hosts, 100000)


@register(
    "host_degree_features",
    """
    WITH e0 AS (
        SELECT id % 40 AS s, (id * 7) % 40 AS d, (id % 9) + 1 AS n
        FROM range(600) t(id)
        WHERE id % 40 <> (id * 7) % 40
    ),
    e AS (
        SELECT 'h' || s AS src_host, 'h' || d AS dst_host,
               CAST(SUM(n) AS BIGINT) AS n_links
        FROM e0 GROUP BY 1, 2
    ),
    o AS (SELECT src_host AS host, CAST(COUNT(*) AS BIGINT) AS out_hosts,
                 CAST(SUM(n_links) AS BIGINT) AS out_links
          FROM e GROUP BY 1),
    i AS (SELECT dst_host AS host, CAST(COUNT(*) AS BIGINT) AS in_hosts,
                 CAST(SUM(n_links) AS BIGINT) AS in_links
          FROM e GROUP BY 1),
    r AS (SELECT a.src_host AS host, CAST(COUNT(*) AS BIGINT) AS reciprocal_hosts
          FROM e a
          WHERE EXISTS (SELECT 1 FROM e b
                        WHERE b.src_host = a.dst_host
                          AND b.dst_host = a.src_host)
          GROUP BY 1)
    SELECT COALESCE(o.host, i.host) AS host,
           COALESCE(out_hosts, 0) AS out_hosts,
           COALESCE(out_links, 0) AS out_links,
           COALESCE(in_hosts, 0) AS in_hosts,
           COALESCE(in_links, 0) AS in_links,
           COALESCE(reciprocal_hosts, 0) AS reciprocal_hosts
    FROM o FULL OUTER JOIN i ON o.host = i.host
    LEFT JOIN r ON COALESCE(o.host, i.host) = r.host
    """,
)
def q_host_degree_features(spark: SparkSession, sf: str) -> DataFrame:
    """Per-host graph features (operators/webgraph.py::
    host_degree_features): distinct in/out degrees, link volumes, and
    reciprocal-neighbor counts (the link-farm signature) over a
    closed-form 40-host edge set where exactly the ids divisible by 5
    have reciprocal partners."""
    from .operators.webgraph import host_degree_features

    id_ = F.col("id")
    base = spark.range(600).select(
        F.pmod(id_, F.lit(40)).alias("s"),
        F.pmod(id_ * F.lit(7), F.lit(40)).alias("d"),
        (F.pmod(id_, F.lit(9)) + 1).alias("n"),
    ).where(F.col("s") != F.col("d"))
    edges = base.groupBy(
        F.concat(F.lit("h"), F.col("s")).alias("src_host"),
        F.concat(F.lit("h"), F.col("d")).alias("dst_host"),
    ).agg(F.sum("n").cast("long").alias("n_links"))
    return host_degree_features(edges)


@register(
    "inverted_postings",
    r"""
    WITH tok AS (
        SELECT DISTINCT doc_id, t AS term
        FROM (SELECT doc_id,
                     unnest(string_split_regex(lower(text), '\s+')) AS t
              FROM documents)
        WHERE t <> ''
    ),
    p AS (
        SELECT term, doc_id,
               doc_id - COALESCE(lag(doc_id) OVER (
                   PARTITION BY term ORDER BY doc_id), 0) AS delta
        FROM tok
    )
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
           string_agg(CAST(delta AS VARCHAR), ',' ORDER BY doc_id) AS postings
    FROM p GROUP BY term
    """,
)
def q_inverted_postings(spark: SparkSession, sf: str) -> DataFrame:
    """Inverted-index build (operators/retrieval.py::build_postings):
    delta-encoded sorted posting list + df per term over the documents
    table, same tokenizer as BM25.  The oracle reconstructs the deltas
    with a lag window; one wrong gap or ordering anywhere breaks the
    string equality."""
    from .operators.retrieval import build_postings

    return build_postings(load_docs_spread(spark, sf))


# ---------------------------------------------------------------------------
# Ranking-quality evaluation (operators/relevance.py): nDCG/MRR/P/R@k over a
# deterministic synthetic eval set derived from the documents table — qrels
# and ranking are simple modular projections so the ORACLE tests the metric
# math, not the ranker (the rankers have their own gates above).
# ---------------------------------------------------------------------------
_EVAL_SQL_CTES = """
    qrels AS (
        SELECT 'q' || CAST(doc_id % 3 AS VARCHAR) AS query_id, doc_id,
               CAST(doc_id % 4 AS BIGINT) AS grade
        FROM documents WHERE doc_id % 5 < 3
    ),
    rank_src AS (
        SELECT 'q' || CAST(doc_id % 3 AS VARCHAR) AS query_id, doc_id,
               doc_id % 11 AS o
        FROM documents WHERE doc_id % 5 >= 1
    ),
    ranking AS (
        SELECT query_id, doc_id,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY o, doc_id) AS BIGINT) AS rank
        FROM rank_src
    ),
    topk AS (SELECT * FROM ranking WHERE rank <= 10),
    per_q AS (
        SELECT query_id,
               CAST(SUM(CASE WHEN grade > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_rel
        FROM qrels GROUP BY 1
    ),
    ideal AS (
        SELECT query_id, grade,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY grade DESC, doc_id
               ) AS ideal_rank
        FROM qrels WHERE grade > 0
    ),
    idcg AS (
        SELECT query_id,
               CAST(SUM(CAST(FLOOR(1000000.0
                   * ((CAST(1 AS BIGINT) << CAST(grade AS INT)) - 1)
                   / LOG2(ideal_rank + 1)) AS BIGINT)) AS BIGINT) AS idcg_micro
        FROM ideal WHERE ideal_rank <= 10 GROUP BY 1
    ),
    matched AS (
        SELECT t.query_id, t.rank, q.grade
        FROM topk t JOIN qrels q USING (query_id, doc_id)
    ),
    obs AS (
        SELECT query_id,
               CAST(COUNT(*) AS BIGINT) AS judged_at_k,
               CAST(SUM(CASE WHEN grade > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS hits,
               MIN(CASE WHEN grade > 0 THEN rank END) AS first_rel_rank,
               CAST(SUM(CAST(FLOOR(1000000.0
                   * ((CAST(1 AS BIGINT) << CAST(grade AS INT)) - 1)
                   / LOG2(rank + 1)) AS BIGINT)) AS BIGINT) AS dcg_micro
        FROM matched GROUP BY 1
    ),
    base AS (
        SELECT p.query_id, p.n_rel,
               COALESCE(o.judged_at_k, 0) AS judged_at_k,
               COALESCE(o.hits, 0) AS hits,
               CAST(COALESCE(1000000 // o.first_rel_rank, 0) AS BIGINT)
                   AS rr_micro,
               COALESCE(o.dcg_micro, 0) AS dcg_micro,
               COALESCE(i.idcg_micro, 0) AS idcg_micro
        FROM per_q p
        LEFT JOIN obs o USING (query_id)
        LEFT JOIN idcg i USING (query_id)
    ),
    metrics AS (
        SELECT query_id, n_rel, judged_at_k, hits, rr_micro, dcg_micro,
               idcg_micro,
               CASE WHEN idcg_micro > 0
                    THEN (dcg_micro * 1000000) // idcg_micro
                    ELSE 0 END AS ndcg_micro,
               (hits * 1000000) // 10 AS precision_micro,
               CASE WHEN n_rel > 0 THEN (hits * 1000000) // n_rel
                    ELSE 0 END AS recall_micro
        FROM base
    )
"""


def _eval_frames(spark: SparkSession, sf: str):
    from .operators.partition import two_phase_top_n

    docs = load(spark, sf, "documents")
    qid = F.concat(F.lit("q"), (F.col("doc_id") % 3).cast("string"))
    qrels = docs.filter(F.col("doc_id") % 5 < 3).select(
        qid.alias("query_id"),
        "doc_id",
        (F.col("doc_id") % 4).cast("long").alias("grade"),
    )
    rank_src = docs.filter(F.col("doc_id") % 5 >= 1).select(
        qid.alias("query_id"), "doc_id", (F.col("doc_id") % 11).alias("_o")
    )
    ranking = two_phase_top_n(
        rank_src,
        ["query_id"],
        [F.col("_o").asc(), F.col("doc_id").asc()],
        20,
        rank_col="rank",
    )
    return ranking, qrels


@register(
    "retrieval_eval_metrics",
    f"""
    WITH {_EVAL_SQL_CTES}
    SELECT query_id, n_rel, judged_at_k, hits, rr_micro, dcg_micro,
           idcg_micro, ndcg_micro, precision_micro, recall_micro,
           ROUND(ndcg_micro / 1000000.0, 4) AS ndcg,
           ROUND(rr_micro / 1000000.0, 4) AS mrr,
           ROUND(precision_micro / 1000000.0, 4) AS "precision",
           ROUND(recall_micro / 1000000.0, 4) AS "recall"
    FROM metrics
    """,
)
def q_retrieval_eval_metrics(spark: SparkSession, sf: str) -> DataFrame:
    """Per-query nDCG@10 / MRR / P@10 / R@10 (operators/relevance.py) over
    a deterministic modular qrels+ranking built from documents.  Every
    metric is a BIGINT micro quantity (integer shift gain, one quantized
    log2 per hit, truncating divisions), so the oracle replays the exact
    arithmetic; the doubles are one division + round away."""
    from .operators.relevance import ranking_metrics

    ranking, qrels = _eval_frames(spark, sf)
    return ranking_metrics(ranking, qrels, k=10)


@register(
    "retrieval_eval_mean",
    f"""
    WITH {_EVAL_SQL_CTES}
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           ROUND(CAST(SUM(rr_micro) AS BIGINT)
                 / (1000000.0 * COUNT(*)), 4) AS mrr,
           ROUND(CAST(SUM(ndcg_micro) AS BIGINT)
                 / (1000000.0 * COUNT(*)), 4) AS ndcg,
           ROUND(CAST(SUM(precision_micro) AS BIGINT)
                 / (1000000.0 * COUNT(*)), 4) AS "precision",
           ROUND(CAST(SUM(recall_micro) AS BIGINT)
                 / (1000000.0 * COUNT(*)), 4) AS "recall"
    FROM metrics
    """,
)
def q_retrieval_eval_mean(spark: SparkSession, sf: str) -> DataFrame:
    """Macro-averaged evaluation summary (mean over judged queries) —
    BIGINT micro-sums divided once, association-order-free."""
    from .operators.relevance import mean_ranking_metrics, ranking_metrics

    ranking, qrels = _eval_frames(spark, sf)
    return mean_ranking_metrics(ranking_metrics(ranking, qrels, k=10))


@register(
    "ql_topk",
    f"""
    WITH {_BM25_SQL_CTES},
    qlcf AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cf FROM tf GROUP BY 1),
    qlconst AS (
        SELECT CAST(SUM(CAST(FLOOR(1000000.0 * ln(
                   CAST(2000 * cf AS DOUBLE)
                   / CAST(s.total_tokens AS DOUBLE)
               )) AS BIGINT)) AS BIGINT) AS k_micro,
               CAST(COUNT(*) AS BIGINT) AS q_eff
        FROM qlcf CROSS JOIN stats s
    ),
    qlmatch AS (
        SELECT tf.doc_id, dl.dl,
               CAST(SUM(CAST(FLOOR(1000000.0 * ln(
                   CAST(tf.tf * s.total_tokens + 2000 * c.cf AS DOUBLE)
                   / CAST(2000 * c.cf AS DOUBLE)
               )) AS BIGINT)) AS BIGINT) AS match_micro,
               CAST(COUNT(*) AS BIGINT) AS matched_terms
        FROM tf
        JOIN dl USING (doc_id)
        JOIN qlcf c USING (term)
        CROSS JOIN stats s
        GROUP BY 1, 2
    ),
    qlscored AS (
        SELECT doc_id,
               match_micro + q.k_micro
                 - q.q_eff * CAST(FLOOR(1000000.0 * ln(
                       CAST(dl + 2000 AS DOUBLE))) AS BIGINT) AS score_micro,
               matched_terms
        FROM qlmatch CROSS JOIN qlconst q
    ),
    qlranked AS (
        SELECT doc_id, score_micro, matched_terms,
               ROUND(score_micro / 1000000.0, 4) AS ql,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY score_micro DESC, doc_id) AS INT) AS rank
        FROM qlscored
    )
    SELECT doc_id, score_micro, matched_terms, ql, rank
    FROM qlranked WHERE rank <= 10
    """,
)
def q_ql_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Top-10 documents by Dirichlet query likelihood (mu=2000,
    operators/retrieval.py::ql_topk) for the same ('dup', 'spark',
    'merge') query as the BM25 gate — the second classic lexical ranker.
    The oracle replays the decomposed micro-nat form exactly: matched
    boost + per-query constant - |q| * ln(dl + mu), each ln quantized
    once on a ratio of exact BIGINTs."""
    from .operators.retrieval import ql_topk

    docs = load_docs_spread(spark, sf)
    return ql_topk(docs, ["dup", "spark", "merge"], k=10)


@register("cdc_chunks")
def q_cdc_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Content-defined chunking (operators/cdc.py) over the documents
    table's UTF-8 bytes: (doc_id, chunk_idx, offset, length, chunk_md5).
    No SQL oracle exists for a 64-byte rolling gear hash (rows-only
    driver check); the exact semantics are pinned by tests/test_cdc.py
    against an independent pure-Python byte-loop reference plus the
    shift-invariance property."""
    from .operators.cdc import cdc_chunks

    docs = load_docs_spread(spark, sf)
    blobs = docs.select("doc_id", F.encode("text", "UTF-8").alias("data"))
    return cdc_chunks(blobs, mask_bits=5, min_len=8, max_len=128)


@register(
    "dedup_snm_pairs",
    """
    WITH snm AS (
        SELECT doc_id, substr(lower(text), 1, 12) AS key,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY substr(lower(text), 1, 12), doc_id
               ) - 1 AS BIGINT) AS pos
        FROM documents
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           a.key AS a_key, b.key AS b_key,
           CAST(b.pos - a.pos AS BIGINT) AS gap
    FROM snm a JOIN snm b
      ON b.pos BETWEEN a.pos + 1 AND a.pos + 4
    """,
)
def q_dedup_snm_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Sorted-neighborhood blocking (operators/dedup.py,
    Hernandez & Stolfo): candidate pairs within 4 sort positions under
    the 12-char lowered-text prefix key — the third blocking family
    beside MinHash LSH and SimHash.  The Spark side derives positions
    via range repartition + per-partition offsets and joins on
    pos-div-window blocks (no unpartitioned window, no range
    cross-join); the oracle is the direct global ROW_NUMBER + BETWEEN
    definition — any position or neighbor-window error breaks it."""
    from .operators.dedup import sorted_neighborhood_pairs

    docs = load_docs_spread(spark, sf)
    key = F.substring(F.lower(F.col("text")), 1, 12)
    return sorted_neighborhood_pairs(docs, key, window=4)


# ---------------------------------------------------------------------------
# Driver-snapshot ordering.
#
# The round driver samples a fixed-size prefix of this registry for its hard
# CORRECTNESS gate, so registration order doubles as verification priority.
# Rounds 1-3 together exercised 56 of the 96 gates; the names below are the
# ones that have never had a driver row (they all pass the committed
# full-registry sweep, but the brief's bar is a driver-green row).  Promote
# them to the front, followed by a handful of flagship regressions, then
# everything else in original definition order.  New gates added this round
# are registered normally and then listed here so they get driver coverage
# in their first round.
# ---------------------------------------------------------------------------
# ---------------------------------------------------------------------------
# Main-content extraction (functions/webtext.py::main_content)
# ---------------------------------------------------------------------------
@register(
    "main_content_extract",
    """
    WITH d AS (
        SELECT id,
               'Article ' || id ||
               ' &amp; friends paragraph one with enough characters to keep around.'
                   AS p1,
               CASE WHEN id % 3 <> 0 THEN
                   'Second paragraph of article ' || id ||
                   ' links to reference ' || (id % 5) || ' inline and stays.'
               END AS p2,
               CASE WHEN id % 4 = 0 THEN
                   'Closing thoughts for article ' || id ||
                   ' wrap up the discussion nicely here.'
               END AS p3
        FROM range(2000) t(id)
    )
    SELECT CAST(id AS BIGINT) AS doc_id,
           concat_ws(' ', p1, p2, p3) AS main_text,
           CAST(4 + CAST(id % 3 <> 0 AS INT) + CAST(id % 4 = 0 AS INT)
                AS INT) AS n_blocks,
           CAST(1 + CAST(id % 3 <> 0 AS INT) + CAST(id % 4 = 0 AS INT)
                AS INT) AS n_kept,
           CAST(length(p1) + COALESCE(length(p2), 0) + COALESCE(length(p3), 0)
                AS INT) AS content_chars
    FROM d
    """,
)
def q_main_content_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Block-density main-content extraction (functions/webtext.py::
    main_content, the Readability/JusText step): link-dense nav/footer
    and short blocks dropped, script subtrees removed, inline anchors
    tag-stripped inside surviving paragraphs; the oracle replays the
    expected article text closed-form from the fixture's id rules."""
    from .functions.webtext import add_main_content
    from .sources.pages import generate_article_pages

    pages = generate_article_pages(spark, 2000)
    # staged form: the block-stats fold runs once per row, not once per
    # extracted field (no CSE on the interpreted HOF path)
    return add_main_content(pages).select(
        "doc_id", "main_text", "n_blocks", "n_kept", "content_chars"
    )


# ---------------------------------------------------------------------------
# Composed article ingestion (main_content -> decode_entities -> token cut)
# ---------------------------------------------------------------------------
@register(
    "article_pipeline",
    """
    WITH d AS (
        SELECT id,
               'Article ' || id ||
               ' & friends paragraph one with enough characters to keep around.'
                   AS p1,
               CASE WHEN id % 3 <> 0 THEN
                   'Second paragraph of article ' || id ||
                   ' links to reference ' || (id % 5) || ' inline and stays.'
               END AS p2,
               CASE WHEN id % 4 = 0 THEN
                   'Closing thoughts for article ' || id ||
                   ' wrap up the discussion nicely here.'
               END AS p3
        FROM range(4000) t(id)
    ),
    built AS (
        SELECT CAST(id AS BIGINT) AS doc_id,
               concat_ws(' ', p1, p2, p3) AS text,
               CAST(12 + 12 * CAST(id % 3 <> 0 AS INT)
                       + 11 * CAST(id % 4 = 0 AS INT) AS INT) AS n_tokens
        FROM d
    )
    SELECT doc_id, text, n_tokens, CAST(length(text) AS INT) AS n_chars
    FROM built WHERE n_tokens >= 20
    """,
)
def q_article_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """The composed web-text ingestion chain over article pages:
    ``main_content`` (boilerplate/script drop) -> ``decode_entities``
    (&amp; -> &) -> whitespace token count -> minimum-length quality cut
    (single-paragraph articles fall below 20 tokens and drop).  Every
    stage is the production operator; the oracle replays the whole chain
    closed-form."""
    from .functions.textstats import token_count_ws
    from .functions.webtext import decode_entities, main_content
    from .sources.pages import generate_article_pages

    pages = generate_article_pages(spark, 4000)
    mc = main_content(F.col("html").cast("string"))
    base = pages.select(
        "doc_id", decode_entities(mc["main_text"]).alias("text")
    )
    out = base.select(
        "doc_id",
        "text",
        token_count_ws(F.col("text")).cast("int").alias("n_tokens"),
        F.length("text").cast("int").alias("n_chars"),
    )
    return out.where(F.col("n_tokens") >= 20)


# ---------------------------------------------------------------------------
# HTML entity decoding (functions/webtext.py::decode_entities)
# ---------------------------------------------------------------------------
@register(
    "decode_html_entities",
    """
    SELECT CAST(id AS BIGINT) AS doc_id,
           'row ' || id || ' says &" letter ' ||
           chr(CAST(65 + id % 26 AS INTEGER)) ||
           ' euro ' || chr(8364) || ' nb' || chr(160) ||
           'sp bad &nope; amp-lone & end' AS decoded
    FROM range(3000) t(id)
    """,
)
def q_decode_html_entities(spark: SparkSession, sf: str) -> DataFrame:
    """HTML character-reference decoding (functions/webtext.py::
    decode_entities): named + decimal + hex references including
    multi-byte codepoints (arithmetic UTF-8 construction — Spark's chr()
    truncates mod 256); malformed references stay literal.  The oracle
    rebuilds the decoded string closed-form with DuckDB's full-codepoint
    chr()."""
    from .functions.webtext import decode_entities

    df = spark.range(3000)
    id_ = F.col("id")
    raw = F.concat(
        F.lit("row "), id_,
        F.lit(" says &amp;&quot; letter &#"),
        (id_ % 26 + 65).cast("string"),
        F.lit("; euro &#x20AC; nb&nbsp;sp bad &nope; amp-lone & end"),
    )
    return df.select(
        id_.alias("doc_id"), decode_entities(raw).alias("decoded")
    )


# ---------------------------------------------------------------------------
# Crawl-delay extraction (operators/robots.py::parse_crawl_delays)
# ---------------------------------------------------------------------------
@register(
    "robots_crawl_delays",
    """
    WITH h AS (
        SELECT id, 'd' || id || '.example.org' AS host
        FROM range(200) t(id) WHERE id % 7 = 0
    ),
    -- the fixture's Crawl-delay line follows the last group: exempt
    -- (id%11=0), else the bot group (id%2=0, two agents), else '*'
    rows AS (
        SELECT host, 'exemptbot' AS agent FROM h WHERE id % 11 = 0
        UNION ALL
        SELECT host, a.agent
        FROM h CROSS JOIN (SELECT unnest(['gptbot', 'ccbot']) AS agent) a
        WHERE id % 11 <> 0 AND id % 2 = 0
        UNION ALL
        SELECT host, '*' FROM h WHERE id % 11 <> 0 AND id % 2 <> 0
    )
    SELECT host, agent, CAST(5 AS DOUBLE) AS crawl_delay_s FROM rows
    """,
)
def q_robots_crawl_delays(spark: SparkSession, sf: str) -> DataFrame:
    """Crawl-delay politeness extraction (operators/robots.py::
    parse_crawl_delays): the RFC 9309 extension line attributed to its
    agent group (including the empty allow-all group and CRLF hosts);
    feeds ``recrawl.schedule_fetches(crawl_delays=...)``."""
    from .operators.robots import parse_crawl_delays
    from .sources.pages import generate_robots

    return parse_crawl_delays(generate_robots(spark, 200))


# ---------------------------------------------------------------------------
# Mergeable HLL sketches (operators/sketches.py)
# ---------------------------------------------------------------------------
@register(
    "hll_distinct_users",
    """
    WITH e AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events),
    d AS (
        SELECT CAST(day AS VARCHAR) AS scope,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
        FROM e GROUP BY 1
        UNION ALL
        SELECT 'all', CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM e
    )
    SELECT scope, exact_users, TRUE AS within_tol FROM d
    """,
)
def q_hll_distinct_users(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable distinct-count sketches (operators/sketches.py): per-day
    DataSketches HLL of user_id, global count from MERGING the daily
    sketches (never rescanning raw events — the 100 TB rollup shape).
    The gate emits the exact count (hash-matched against the oracle) and
    a 5%-tolerance flag on the sketch estimate (TRUE everywhere; HLL at
    lgK=12 is near-exact at fixture cardinalities but the bound is the
    honest contract)."""
    from .operators.sketches import estimate, merge_sketches, sketch_distinct

    ev = load(spark, sf, "events").withColumn("day", F.to_date("ts"))
    daily = sketch_distinct(ev, ["day"], "user_id")
    tol = lambda est, exact: (  # noqa: E731
        F.abs(est - exact) * F.lit(100) <= F.greatest(F.lit(100), exact * F.lit(5))
    )
    per_day = (
        ev.groupBy("day")
        .agg(F.countDistinct("user_id").cast("long").alias("exact_users"))
        .join(daily, "day")
        .select(
            F.col("day").cast("string").alias("scope"),
            "exact_users",
            tol(estimate("hll_sketch"), F.col("exact_users")).alias("within_tol"),
        )
    )
    all_row = (
        ev.agg(F.countDistinct("user_id").cast("long").alias("exact_users"))
        .crossJoin(merge_sketches(daily, []))
        .select(
            F.lit("all").alias("scope"),
            "exact_users",
            tol(estimate("hll_sketch"), F.col("exact_users")).alias("within_tol"),
        )
    )
    return per_day.unionByName(all_row)


# ---------------------------------------------------------------------------
# DDSketch quantiles / Count-Min sketch / HLL intersection
# (operators/sketches.py)
# ---------------------------------------------------------------------------
import math as _math

_DD_ALPHA = 0.02
_DD_GAMMA = (1 + _DD_ALPHA) / (1 - _DD_ALPHA)


@register(
    "ddsketch_quantiles",
    f"""
    WITH sk AS (
        SELECT event_type,
               CAST(CEIL(ROUND(LN(value) / {_math.log(_DD_GAMMA)!r}, 9)) AS INT)
                   AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events WHERE value > 0
        GROUP BY 1, 2
    ),
    cum AS (
        SELECT event_type, bucket, n,
               SUM(n) OVER (PARTITION BY event_type ORDER BY bucket)
                   AS cum,
               SUM(n) OVER (PARTITION BY event_type) AS total
        FROM sk
    ),
    qs AS (SELECT unnest([0.5, 0.9, 0.99]) AS q),
    hit AS (
        SELECT event_type, q, MIN(bucket) AS bucket
        FROM cum CROSS JOIN qs
        WHERE cum >= CAST(FLOOR(1.0 + q * (total - 1)) AS BIGINT)
        GROUP BY 1, 2
    )
    SELECT event_type, CAST(q AS DOUBLE) AS q,
           ROUND(2.0 * POWER({_DD_GAMMA!r}, bucket) / {_DD_GAMMA + 1!r}, 4)
               AS est
    FROM hit
    """,
)
def q_ddsketch_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable relative-error quantiles (operators/sketches.py::
    ddsketch_*, DDSketch VLDB 2019): per-(event_type, day) sketch rows
    merged to per-event_type, then p50/p90/p99 walked over ≤|buckets|
    sketch rows — the latency-percentile rollup that never rescans raw
    events; the oracle replays build+merge+walk closed-form in SQL."""
    from .operators.sketches import ddsketch_build, ddsketch_merge, ddsketch_quantiles

    ev = load(spark, sf, "events").withColumn("day", F.to_date("ts"))
    daily = ddsketch_build(ev, ["event_type", "day"], "value", alpha=_DD_ALPHA)
    merged = ddsketch_merge(daily, ["event_type"])
    return ddsketch_quantiles(merged, ["event_type"], [0.5, 0.9, 0.99], alpha=_DD_ALPHA)


@register(
    "cm_heavy_hitters",
    """
    WITH ev AS (
        SELECT CAST(ts AS DATE) AS day, CAST(user_id AS VARCHAR) AS item
        FROM events
    ),
    rr AS (SELECT unnest([0, 1, 2, 3]) AS r),
    cells AS (
        SELECT day, r,
               CAST(('0x' || substr(md5(item || ':cm7:' || CAST(r AS VARCHAR)),
                                    1, 15))::BIGINT % 256 AS INT) AS c,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM ev CROSS JOIN rr
        GROUP BY 1, 2, 3
    ),
    merged AS (
        SELECT r, c, CAST(SUM(n) AS BIGINT) AS n FROM cells GROUP BY 1, 2
    ),
    top AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n
        FROM events GROUP BY 1
        ORDER BY exact_n DESC, user_id LIMIT 10
    ),
    probes AS (
        SELECT t.user_id, t.exact_n, rr.r,
               CAST(('0x' || substr(md5(CAST(t.user_id AS VARCHAR) || ':cm7:'
                                        || CAST(rr.r AS VARCHAR)),
                                    1, 15))::BIGINT % 256 AS INT) AS c
        FROM top t CROSS JOIN rr
    )
    SELECT p.user_id, p.exact_n,
           CAST(MIN(COALESCE(m.n, 0)) AS BIGINT) AS cm_n
    FROM probes p LEFT JOIN merged m USING (r, c)
    GROUP BY 1, 2
    """,
)
def q_cm_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Count-Min point-frequency sketch (operators/sketches.py::cm_*,
    Cormode & Muthukrishnan 2005): per-day depth×width counter rows on
    the md5 cross-engine hash, merged by counter addition, point-queried
    for the top-10 users — estimates are exact-integer arithmetic, so the
    oracle hash-matches the CM estimates themselves, not a tolerance."""
    from .operators.sketches import cm_estimate, cm_merge, cm_sketch_build

    ev = load(spark, sf, "events").withColumn("day", F.to_date("ts"))
    daily = cm_sketch_build(ev, ["day"], "user_id", width=256, depth=4)
    merged = cm_merge(daily, [])
    top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.desc("exact_n"), "user_id")
        .limit(10)
    )
    return cm_estimate(merged, top, "user_id", width=256, depth=4).select(
        "user_id", "exact_n", F.col("cm_n").cast("long").alias("cm_n")
    )


@register(
    "hll_overlap_users",
    """
    WITH pairs AS (
        SELECT unnest(['click|view', 'click|purchase']) AS pair
    ),
    x AS (
        SELECT p.pair,
               split_part(p.pair, '|', 1) AS ta,
               split_part(p.pair, '|', 2) AS tb
        FROM pairs p
    )
    SELECT x.pair,
           CAST((SELECT COUNT(DISTINCT a.user_id)
                 FROM events a JOIN events b ON a.user_id = b.user_id
                 WHERE a.event_type = x.ta AND b.event_type = x.tb)
                AS BIGINT) AS exact_overlap,
           TRUE AS within_tol
    FROM x
    """,
)
def q_hll_overlap_users(spark: SparkSession, sf: str) -> DataFrame:
    """HLL intersection via inclusion–exclusion (operators/sketches.py::
    hll_intersection_estimate): audience overlap between event types from
    materialized per-type sketches.  The estimate's error scales with the
    UNION size, so the tolerance flag is gated on the union estimate
    (|est − exact| ≤ max(100, 10% of union)) — TRUE everywhere at fixture
    scale; the exact overlap is hash-matched."""
    from .operators.sketches import (
        estimate,
        hll_intersection_estimate,
        sketch_distinct,
    )

    ev = load(spark, sf, "events")
    per_type = sketch_distinct(ev, ["event_type"], "user_id")
    pairs = [("click", "view"), ("click", "purchase")]
    pdf = ev.sparkSession.createDataFrame(pairs, "ta string, tb string")
    j = (
        F.broadcast(pdf)
        .join(
            per_type.select(
                F.col("event_type").alias("ta"), F.col("hll_sketch").alias("ha")
            ),
            "ta",
        )
        .join(
            per_type.select(
                F.col("event_type").alias("tb"), F.col("hll_sketch").alias("hb")
            ),
            "tb",
        )
    )
    exact = (
        ev.select("event_type", "user_id")
        .distinct()
        .groupBy("user_id")
        .agg(F.collect_set("event_type").alias("types"))
    )
    exact_pairs = F.broadcast(pdf).join(
        exact.select(
            F.explode("types").alias("ta"), F.col("types").alias("_t"), "user_id"
        ),
        "ta",
    )
    exact_cnt = (
        exact_pairs.where(F.array_contains("_t", F.col("tb")))
        .groupBy("ta", "tb")
        .agg(F.countDistinct("user_id").alias("exact_overlap"))
    )
    est = hll_intersection_estimate("ha", "hb")
    union_est = estimate(F.hll_union("ha", "hb"))
    return (
        j.join(exact_cnt, ["ta", "tb"])
        .select(
            F.concat_ws("|", "ta", "tb").alias("pair"),
            F.col("exact_overlap").cast("long").alias("exact_overlap"),
            (
                F.abs(est - F.col("exact_overlap")) * F.lit(10)
                <= F.greatest(F.lit(1000), union_est)
            ).alias("within_tol"),
        )
    )


# ---------------------------------------------------------------------------
# Grok pattern compiler (functions/grok.py)
# ---------------------------------------------------------------------------
from .functions.grok import grok_compile as _grok_compile  # noqa: E402

_GROK_ACCESS_PAT = (
    r"%{IPORHOST:clientip} - %{USER:auth} \[%{HTTPDATE:ts_http}\] "
    r'"%{HTTPMETHOD:verb} %{URIPATH:path}(?:%{URIPARAM:params})? '
    r'HTTP/%{BASE10NUM:httpversion}" %{NONNEGINT:status:int} '
    r"%{NONNEGINT:bytes:int} %{QS:agent}"
)
_GROK_ACCESS_RX, _GROK_ACCESS_FIELDS = _grok_compile(_GROK_ACCESS_PAT)

_GROK_ORACLE = """
    WITH lines AS (
        SELECT event_id,
               '10.' || CAST(user_id % 200 AS VARCHAR) || '.'
                     || CAST(event_id % 250 AS VARCHAR) || '.7'
               || ' - u' || CAST(user_id AS VARCHAR)
               || ' [' || strftime(ts, '%d/%b/%Y:%H:%M:%S') || ' +0000] "'
               || CASE event_type WHEN 'view' THEN 'GET'
                                  WHEN 'click' THEN 'POST'
                                  WHEN 'purchase' THEN 'PUT'
                                  ELSE 'GET' END
               || ' /p/' || CAST(event_id % 50 AS VARCHAR)
               || CASE WHEN event_id % 3 = 0 THEN ''
                       ELSE '?q=' || CAST(event_id % 9 AS VARCHAR) END
               || ' HTTP/1.1" '
               || CASE WHEN event_type = 'error' THEN '500' ELSE '200' END
               || ' ' || CAST(CAST(FLOOR(ABS(value) * 100) AS BIGINT) AS VARCHAR)
               || ' "agent/' || CAST(user_id % 4 AS VARCHAR) || '"' AS line
        FROM events
    )
    SELECT event_id, __COLS__
    FROM (SELECT event_id,
                 regexp_extract(line, '__RX__', __NAMES__) AS g
          FROM lines)
"""


def _grok_oracle_sql() -> str:
    # DuckDB's positional regexp_extract caps the group index at 9; the
    # name-list variant returns a struct keyed positionally over ALL
    # capture groups, so build a dense name list up to the max index
    # (placeholders for unbound user groups, none in this pattern).
    max_idx = max(idx for _, idx, _ in _GROK_ACCESS_FIELDS)
    names = [f"_u{i}" for i in range(1, max_idx + 1)]
    cols = []
    for field, idx, typ in _GROK_ACCESS_FIELDS:
        names[idx - 1] = field
        c = f"NULLIF(g.{field}, '')"
        if typ == "long":
            c = f"CAST({c} AS BIGINT)"
        elif typ == "double":
            c = f"CAST({c} AS DOUBLE)"
        cols.append(f"{c} AS {field}")
    name_list = "[" + ", ".join(f"'{n}'" for n in names) + "]"
    return (
        _GROK_ORACLE.replace("__COLS__", ",\n           ".join(cols))
        .replace("__NAMES__", name_list)
        .replace("__RX__", _GROK_ACCESS_RX)
    )


@register("grok_parse_access_logs", _grok_oracle_sql())
def q_grok_parse_access_logs(spark: SparkSession, sf: str) -> DataFrame:
    """Grok-notation parse front-end (functions/grok.py): the
    %{SYNTAX:field:type} patterns users maintain, compiled once
    driver-side into the combined regex the JVM ``regexp_extract`` path
    executes (same engine as extract.extract_log_sql — grok is authoring
    notation, not a new runtime).  Apache-combined-style lines are
    synthesized from events identically in both engines; optional groups
    (params on every 3rd id missing) exercise the NULL normalization and
    :int casts.  RE2-safe pattern library: the identical compiled regex
    runs on Java regex, DuckDB RE2, and Python re."""
    from .functions.grok import grok_extract

    ev = load(spark, sf, "events")
    line = F.concat(
        F.lit("10."), (F.col("user_id") % 200).cast("string"),
        F.lit("."), (F.col("event_id") % 250).cast("string"), F.lit(".7"),
        F.lit(" - u"), F.col("user_id").cast("string"),
        F.lit(" ["), F.date_format("ts", "dd/MMM/yyyy:HH:mm:ss"),
        F.lit(" +0000] \""),
        F.when(F.col("event_type") == "view", "GET")
        .when(F.col("event_type") == "click", "POST")
        .when(F.col("event_type") == "purchase", "PUT")
        .otherwise("GET"),
        F.lit(" /p/"), (F.col("event_id") % 50).cast("string"),
        F.when(F.col("event_id") % 3 == 0, "").otherwise(
            F.concat(F.lit("?q="), (F.col("event_id") % 9).cast("string"))
        ),
        F.lit(" HTTP/1.1\" "),
        F.when(F.col("event_type") == "error", "500").otherwise("200"),
        F.lit(" "),
        F.floor(F.abs(F.col("value")) * 100).cast("long").cast("string"),
        F.lit(" \"agent/"), (F.col("user_id") % 4).cast("string"), F.lit("\""),
    )
    # stage the synthesized line as a real column: the multi-referenced
    # non-cheap alias is not inlined by CollapseProject, so the 20-part
    # concat is evaluated once per row instead of once per reference
    # inside the extraction expression (measured 2.7x on this query, r6)
    staged = ev.select("event_id", line.alias("_line"))
    parsed = grok_extract(F.col("_line"), _GROK_ACCESS_PAT)
    return staged.select("event_id", parsed.alias("g")).select("event_id", "g.*")


# ---------------------------------------------------------------------------
# GeoIP CIDR longest-prefix enrich (operators/iplookup.py)
# ---------------------------------------------------------------------------
from .functions.grok import GROK_PATTERNS as _GROK_LIB  # noqa: E402

_GEOIP_ORACLE = """
    WITH nat AS (SELECT n_nationkey AS nk, n_name FROM nation),
    dims AS (
        SELECT CAST(10 * 16777216 + nk * 65536 AS BIGINT) AS lo,
               CAST(10 * 16777216 + (nk + 1) * 65536 AS BIGINT) AS hi,
               16 AS prefix_len, n_name AS geo
        FROM nat
        UNION ALL
        SELECT CAST(10 * 16777216 + nk * 65536 + 5 * 256 AS BIGINT),
               CAST(10 * 16777216 + nk * 65536 + 6 * 256 AS BIGINT),
               24, n_name || '-METRO'
        FROM nat
        UNION ALL
        SELECT CAST(0 AS BIGINT), CAST(4294967296 AS BIGINT), 0, 'XX'
    ),
    ips AS (
        SELECT event_id,
               CASE WHEN event_id % 97 = 0 THEN '999.1.2.3'
                    WHEN event_id % 7 = 0
                        THEN '172.16.' || CAST(user_id % 200 AS VARCHAR) || '.1'
                    ELSE '10.' || CAST(user_id % 25 AS VARCHAR) || '.'
                         || CAST(event_id % 11 AS VARCHAR) || '.9'
               END AS ip
        FROM events
    ),
    parsed AS (
        SELECT event_id, ip,
               CASE WHEN regexp_matches(ip, '^__IPV4__$')
                    THEN CAST(split_part(ip, '.', 1) AS BIGINT) * 16777216
                       + CAST(split_part(ip, '.', 2) AS BIGINT) * 65536
                       + CAST(split_part(ip, '.', 3) AS BIGINT) * 256
                       + CAST(split_part(ip, '.', 4) AS BIGINT)
               END AS ipl
        FROM ips
    ),
    m AS (
        SELECT p.event_id, p.ip, d.prefix_len, d.geo,
               ROW_NUMBER() OVER (PARTITION BY p.event_id
                                  ORDER BY d.prefix_len DESC) AS rn
        FROM parsed p LEFT JOIN dims d ON p.ipl >= d.lo AND p.ipl < d.hi
    )
    SELECT event_id, ip, prefix_len, geo FROM m WHERE rn = 1
    """


@register(
    "geoip_longest_prefix",
    _GEOIP_ORACLE.replace("__IPV4__", _GROK_LIB["IPV4"]),
)
def q_geoip_longest_prefix(spark: SparkSession, sf: str) -> DataFrame:
    """CIDR longest-prefix GeoIP enrich (operators/iplookup.py): the
    overlap policy is resolved on the DIM side (flatten_prefixes: atomic
    segments claim their longest-prefix cover -> disjoint intervals), so
    the fact scan pays one bucketed equi-join with at most one match per
    ip and NO per-event argmax/window.  The oracle states the DEFINITION
    instead (inequality join + longest-prefix row_number), so the gate
    proves flatten+equi-join == most-specific-wins.  Invalid ips (999.*)
    parse to NULL and enrich to NULL attributes."""
    from .operators.iplookup import flatten_prefixes, ip_enrich

    ev = load(spark, sf, "events")
    nat = load(spark, sf, "nation")
    base = F.lit(10 * 16777216)
    dims = (
        nat.select(
            (base + F.col("n_nationkey") * 65536).cast("long").alias("net"),
            F.lit(16).alias("prefix_len"),
            F.col("n_name").alias("geo"),
        )
        .unionByName(
            nat.select(
                (base + F.col("n_nationkey") * 65536 + 5 * 256)
                .cast("long")
                .alias("net"),
                F.lit(24).alias("prefix_len"),
                F.concat(F.col("n_name"), F.lit("-METRO")).alias("geo"),
            )
        )
        .unionByName(
            ev.sparkSession.createDataFrame(
                [(0, 0, "XX")], "net long, prefix_len int, geo string"
            )
        )
    )
    ip = (
        F.when(F.col("event_id") % 97 == 0, F.lit("999.1.2.3"))
        .when(
            F.col("event_id") % 7 == 0,
            F.concat(
                F.lit("172.16."), (F.col("user_id") % 200).cast("string"), F.lit(".1")
            ),
        )
        .otherwise(
            F.concat(
                F.lit("10."),
                (F.col("user_id") % 25).cast("string"),
                F.lit("."),
                (F.col("event_id") % 11).cast("string"),
                F.lit(".9"),
            )
        )
    )
    facts = ev.select("event_id", ip.alias("ip"))
    flat = flatten_prefixes(dims, ["geo"])
    return ip_enrich(facts, "ip", flat, ["geo"]).select(
        "event_id", "ip", "prefix_len", "geo"
    )


# ---------------------------------------------------------------------------
# Data layout: Z-order keys + compaction planning (operators/layout.py)
# ---------------------------------------------------------------------------
from .operators.layout import zorder_sql as _zorder_sql  # noqa: E402


@register(
    "zorder_layout_keys",
    f"""
    WITH b AS (
        SELECT event_id,
               CAST(user_id % 256 AS BIGINT) AS h,
               CAST(CAST(FLOOR(epoch(ts)) AS BIGINT) // 60 % 256 AS BIGINT)
                   AS m
        FROM events
    )
    SELECT event_id, h, m,
           {_zorder_sql(["h", "m"], 8)} AS zkey
    FROM b
    """,
)
def q_zorder_layout_keys(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order clustering keys (operators/layout.py::zorder_key): 8-bit
    host-hash and minute buckets interleaved into one Morton sort key —
    range-partitioning the sink by it keeps both host- and time-filtered
    scans prunable from file min/max stats.  Pure bit arithmetic; the
    oracle replays the identical interleave via zorder_sql."""
    from .operators.layout import zorder_key

    ev = load(spark, sf, "events")
    h = (F.col("user_id") % 256).cast("long")
    m = (F.floor(F.unix_timestamp("ts") / 60) % 256).cast("long")
    return ev.select(
        "event_id",
        h.alias("h"),
        m.alias("m"),
        zorder_key([F.col("user_id") % 256, F.floor(F.unix_timestamp("ts") / 60) % 256], 8).alias("zkey"),
    )


@register(
    "compaction_plan",
    """
    WITH manifest AS (
        SELECT event_type AS dir,
               CAST(event_id % 97 AS BIGINT) AS file_id,
               CAST(COUNT(*) * 1000 AS BIGINT) AS bytes
        FROM events GROUP BY 1, 2
    ),
    c AS (
        SELECT dir, file_id, bytes,
               SUM(bytes) OVER (PARTITION BY dir ORDER BY file_id) - bytes
                   AS start_off
        FROM manifest
    ),
    fb AS (
        SELECT dir, file_id, bytes,
               CAST(FLOOR(start_off / 100000) AS INT) AS fullbin
        FROM c
    )
    SELECT dir, file_id, bytes,
           CAST(DENSE_RANK() OVER (PARTITION BY dir ORDER BY fullbin) - 1
                AS INT) AS bin
    FROM fb
    """,
)
def q_compaction_plan(spark: SparkSession, sf: str) -> DataFrame:
    """Small-file compaction planning (operators/layout.py::
    plan_compaction): per-sink-directory manifests pack consecutive
    files into merge bins that close at the 100 KB target — the Iceberg
    rewrite-data-files shape, one bin per rewrite task.  Streaming
    first-fit via window cumsum, dense bin ids; the oracle replays the
    cumsum bucketing."""
    from .operators.layout import plan_compaction

    manifest = (
        load(spark, sf, "events")
        .groupBy(
            F.col("event_type").alias("dir"),
            (F.col("event_id") % 97).cast("long").alias("file_id"),
        )
        .agg((F.count(F.lit(1)) * 1000).cast("long").alias("bytes"))
    )
    return plan_compaction(manifest, ["dir"], "file_id", "bytes", 100_000)


# ---------------------------------------------------------------------------
# Behavioral bot detection (operators/botdetect.py)
# ---------------------------------------------------------------------------
@register(
    "bot_detection",
    """
    WITH logs AS (
        SELECT 'c' || CAST(user_id % 40 AS VARCHAR) AS client,
               CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec,
               CASE WHEN event_id % 101 = 0 THEN '/robots.txt'
                    WHEN user_id % 40 = 7 THEN '/p/1'
                    ELSE '/p/' || CAST(event_id % 50 AS VARCHAR) END AS path,
               CASE WHEN event_type = 'error' THEN 500 ELSE 200 END AS status,
               CASE WHEN user_id % 40 = 0 THEN 'curl/8.0'
                    WHEN user_id % 40 = 3 THEN 'SearchBot/2.1'
                    ELSE 'Mozilla/5.0' END AS agent
        FROM events
    ),
    pc AS (
        SELECT client,
               CAST(COUNT(*) AS BIGINT) AS n_requests,
               CAST(COUNT(DISTINCT path) AS BIGINT) AS distinct_paths,
               CAST(SUM(CASE WHEN status >= 400 THEN 1 ELSE 0 END) AS BIGINT)
                   AS errors,
               MAX(sec) - MIN(sec) AS span_s,
               MAX(CASE WHEN lower(agent) LIKE '%bot%'
                         OR lower(agent) LIKE '%crawler%'
                         OR lower(agent) LIKE '%spider%'
                         OR lower(agent) LIKE '%curl%'
                         OR lower(agent) LIKE '%wget%'
                         OR lower(agent) LIKE '%python-requests%'
                    THEN 1 ELSE 0 END) = 1 AS ua_bot,
               CAST(SUM(CASE WHEN path = '/robots.txt' THEN 1 ELSE 0 END)
                    AS BIGINT) AS robots_probes
        FROM logs GROUP BY 1
    ),
    pm AS (
        SELECT client,
               CAST(COUNT(*) AS BIGINT) AS minutes_active,
               CAST(SUM(c * c) AS BIGINT) AS minute_sumsq
        FROM (SELECT client, sec // 60 AS minute,
                     CAST(COUNT(*) AS BIGINT) AS c
              FROM logs GROUP BY 1, 2)
        GROUP BY 1
    ),
    feat AS (
        SELECT pc.*, pm.minutes_active, pm.minute_sumsq,
               pc.robots_probes > 0 AS robots_probe,
               60 * pc.n_requests > 30 * (pc.span_s + 60) AS high_rate,
               pc.n_requests > 5 * pc.distinct_paths AS high_repeat,
               pm.minutes_active >= 3
               AND pc.n_requests >= 10
               AND 4 * pm.minutes_active
                   * (pm.minutes_active * pm.minute_sumsq
                      - pc.n_requests * pc.n_requests)
                   < (pm.minutes_active - 1) * pc.n_requests * pc.n_requests
                   AS regular_cadence,
               10 * pc.errors > 3 * pc.n_requests AS high_error
        FROM pc JOIN pm USING (client)
    )
    SELECT client, n_requests, distinct_paths, errors, span_s,
           robots_probes, minutes_active, minute_sumsq, ua_bot,
           robots_probe, high_rate, high_repeat, regular_cadence,
           high_error,
           CAST(CASE WHEN ua_bot THEN 3 ELSE 0 END
              + CASE WHEN robots_probe THEN 2 ELSE 0 END
              + CASE WHEN high_rate THEN 2 ELSE 0 END
              + CASE WHEN high_repeat THEN 1 ELSE 0 END
              + CASE WHEN regular_cadence THEN 1 ELSE 0 END
              + CASE WHEN high_error THEN 1 ELSE 0 END AS INT) AS bot_score,
           (CASE WHEN ua_bot THEN 3 ELSE 0 END
              + CASE WHEN robots_probe THEN 2 ELSE 0 END
              + CASE WHEN high_rate THEN 2 ELSE 0 END
              + CASE WHEN high_repeat THEN 1 ELSE 0 END
              + CASE WHEN regular_cadence THEN 1 ELSE 0 END
              + CASE WHEN high_error THEN 1 ELSE 0 END) >= 4 AS is_bot
    FROM feat
    """,
)
def q_bot_detection(spark: SparkSession, sf: str) -> DataFrame:
    """Behavioral bot scoring (operators/botdetect.py): per-client rate /
    path-repetition / cadence-regularity / error-share / robots-probe /
    declared-UA flags over access rows synthesized from events — every
    verdict an exact-integer inequality (CV threshold cleared of
    division), so the oracle replays the full feature+score pipeline and
    hash-matches the verdicts themselves.  Two partial-aggregated
    shuffles, no per-client ordered window (a mega-bot never serializes
    onto one task)."""
    from .operators.botdetect import client_features, score_bots

    ev = load(spark, sf, "events")
    logs = ev.select(
        F.concat(F.lit("c"), (F.col("user_id") % 40).cast("string")).alias(
            "client"
        ),
        F.col("ts"),
        F.when(F.col("event_id") % 101 == 0, "/robots.txt")
        .when(F.col("user_id") % 40 == 7, "/p/1")
        .otherwise(
            F.concat(F.lit("/p/"), (F.col("event_id") % 50).cast("string"))
        )
        .alias("path"),
        F.when(F.col("event_type") == "error", 500).otherwise(200).alias(
            "status"
        ),
        F.when(F.col("user_id") % 40 == 0, "curl/8.0")
        .when(F.col("user_id") % 40 == 3, "SearchBot/2.1")
        .otherwise("Mozilla/5.0")
        .alias("agent"),
    )
    return score_bots(client_features(logs)).select(
        "client", "n_requests", "distinct_paths", "errors", "span_s",
        "robots_probes", "minutes_active", "minute_sumsq", "ua_bot",
        "robots_probe", "high_rate", "high_repeat", "regular_cadence",
        "high_error", "bot_score", "is_bot",
    )


# ---------------------------------------------------------------------------
# Time-decayed trending scores (operators/trending.py)
# ---------------------------------------------------------------------------
_TREND_NOW = 1709251200  # 2024-03-01T00:00:00Z, after the fixture window
_TREND_HL = 604800  # 7-day half-life


@register(
    "trending_decayed_scores",
    f"""
    SELECT 'p' || CAST(event_id % 50 AS VARCHAR) AS path,
           ROUND(SUM(POWER(0.5,
                GREATEST(0, {_TREND_NOW} - CAST(FLOOR(epoch(ts)) AS BIGINT))
                / {_TREND_HL}.0)), 4) AS score,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY 1
    """,
)
def q_trending_decayed_scores(spark: SparkSession, sf: str) -> DataFrame:
    """Exponentially-decayed activity counts (operators/trending.py::
    decayed_scores): each event weighted 0.5^(age/half_life), one
    partial-aggregated groupBy — the trending panel's scoring pass,
    oracle-replayed closed-form."""
    from .operators.trending import decayed_scores

    ev = load(spark, sf, "events").select(
        F.concat(F.lit("p"), (F.col("event_id") % 50).cast("string")).alias(
            "path"
        ),
        "ts",
    )
    return decayed_scores(ev, ["path"], "ts", _TREND_NOW, _TREND_HL)


@register(
    "trending_merge_rollup",
    f"""
    WITH daily AS (
        SELECT 'p' || CAST(event_id % 50 AS VARCHAR) AS path,
               CAST(FLOOR(epoch(CAST(ts AS DATE))) AS BIGINT) + 86400
                   AS anchor_s,
               ROUND(SUM(POWER(0.5,
                    GREATEST(0, CAST(FLOOR(epoch(CAST(ts AS DATE))) AS BIGINT)
                                + 86400
                                - CAST(FLOOR(epoch(ts)) AS BIGINT))
                    / {_TREND_HL}.0)), 4) AS score
        FROM events
        GROUP BY 1, 2
    )
    SELECT path,
           ROUND(SUM(score * POWER(0.5,
                CAST({_TREND_NOW} - anchor_s AS DOUBLE) / {_TREND_HL}.0)), 4)
               AS score
    FROM daily
    GROUP BY 1
    """,
)
def q_trending_merge_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Decayed-counter MERGE (operators/trending.py::merge_decayed):
    per-day partials anchored at their own day end re-anchor to a later
    "now" by one multiply — exponential decay is memoryless, so daily
    rollups answer trending queries without rescanning raw events (the
    sketch-rows shape again).  Oracle replays partial build + re-anchored
    merge exactly."""
    from .operators.trending import decayed_scores, merge_decayed

    ev = load(spark, sf, "events").select(
        F.concat(F.lit("p"), (F.col("event_id") % 50).cast("string")).alias(
            "path"
        ),
        "ts",
        F.to_date("ts").alias("day"),
    )
    anchor = (
        F.floor(F.unix_timestamp(F.col("day").cast("timestamp"))).cast("long")
        + 86400
    )
    daily = (
        ev.withColumn("anchor_s", anchor)
        .groupBy("path", "anchor_s")
        .agg(
            F.round(
                F.sum(
                    F.pow(
                        F.lit(0.5),
                        F.greatest(
                            F.lit(0).cast("long"),
                            F.col("anchor_s")
                            - F.floor(F.unix_timestamp("ts")).cast("long"),
                        ).cast("double")
                        / F.lit(float(_TREND_HL)),
                    )
                ),
                4,
            ).alias("score")
        )
    )
    return merge_decayed(daily, ["path"], _TREND_NOW, _TREND_HL)


# ---------------------------------------------------------------------------
# Sketch-driven balanced range partitioning (operators/layout.py)
# ---------------------------------------------------------------------------
@register(
    "balanced_range_splits",
    f"""
    WITH sk AS (
        SELECT CAST(CEIL(ROUND(LN(value) / {_math.log(_DD_GAMMA)!r}, 9))
                    AS INT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events WHERE value > 0
        GROUP BY 1
    ),
    cum AS (
        SELECT bucket, n,
               SUM(n) OVER (ORDER BY bucket) AS cum,
               SUM(n) OVER () AS total
        FROM sk
    ),
    qs AS (SELECT unnest([0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS q),
    hit AS (
        SELECT q, MIN(bucket) AS bucket
        FROM cum CROSS JOIN qs
        WHERE cum >= CAST(FLOOR(1.0 + q * (total - 1)) AS BIGINT)
        GROUP BY 1
    ),
    splits AS (
        SELECT ROUND(2.0 * POWER({_DD_GAMMA!r}, bucket) / {_DD_GAMMA + 1!r}, 4)
            AS est
        FROM hit
    )
    SELECT CAST(part AS INT) AS part, CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM (
        SELECT CASE WHEN e.value IS NULL THEN NULL
                    ELSE (SELECT COUNT(*) FROM splits s WHERE e.value >= s.est)
               END AS part
        FROM events e
    )
    GROUP BY 1
    """,
)
def q_balanced_range_splits(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch-driven equi-depth range partitioning (operators/layout.py::
    balanced_splits + bucket_by_splits): 8-way split points read from the
    DDSketch the pipeline already maintains — no sampling pass, no global
    sort, boundaries deterministic run to run; assignment is a flat
    comparison sum.  The gate emits per-partition row counts; the oracle
    replays the quantile walk and a correlated split count."""
    from .operators.layout import balanced_splits, bucket_by_splits
    from .operators.sketches import ddsketch_build

    ev = load(spark, sf, "events")
    sk = ddsketch_build(ev, [], "value", alpha=_DD_ALPHA)
    splits = balanced_splits(sk, 8, alpha=_DD_ALPHA)
    return (
        ev.groupBy(bucket_by_splits(F.col("value"), splits).alias("part"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


# ---------------------------------------------------------------------------
# Streaming sketch maintenance (streaming/sketches.py)
# ---------------------------------------------------------------------------
@register(
    "streaming_sketch_distinct",
    """
    WITH e AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events),
    d AS (
        SELECT CAST(day AS VARCHAR) AS scope,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
        FROM e GROUP BY 1
        UNION ALL
        SELECT 'all', CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM e
    )
    SELECT scope, exact_users, TRUE AS within_tol FROM d
    """,
)
def q_streaming_sketch_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming-maintained HLL sketch table (streaming/sketches.py):
    micro-batches sketch their own rows and hll-union into per-day
    partials (touched partitions only — the update-rollup MERGE shape);
    the gate reads per-day estimates AND the global merge of the
    maintained rows, hash-matching exact counts with the same
    5%-tolerance flag as the batch hll_distinct_users gate.  Raw events
    are never retained."""
    import hashlib
    import os
    import shutil
    import tempfile

    from .operators.sketches import estimate, merge_sketches
    from .streaming.sketches import read_sketch_estimates, streaming_sketch_distinct

    schema = spark.read.parquet(f"{sf}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(f"{sf}/events.*")
        .withColumn("day", F.to_date("ts"))
    )
    name = "stream_gate_sketch_distinct"
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    out_path = os.path.join(
        tempfile.gettempdir(), f"spark_graft_{os.getuid()}_stream_sketch_{tag}"
    )
    shutil.rmtree(out_path, ignore_errors=True)
    ckpt = tempfile.mkdtemp(prefix="ckpt_gate_sketch_")
    try:
        query = streaming_sketch_distinct(
            stream, ["day"], "user_id", out_path, ckpt, query_name=name
        )
        query.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)

    ev = load(spark, sf, "events").withColumn("day", F.to_date("ts"))
    tol = lambda est, exact: (  # noqa: E731
        F.abs(est - exact) * F.lit(100) <= F.greatest(F.lit(100), exact * F.lit(5))
    )
    per_day = (
        ev.groupBy("day")
        .agg(F.countDistinct("user_id").cast("long").alias("exact_users"))
        .join(read_sketch_estimates(spark, out_path, ["day"]), "day")
        .select(
            F.col("day").cast("string").alias("scope"),
            "exact_users",
            tol(F.col("distinct_est"), F.col("exact_users")).alias("within_tol"),
        )
    )
    merged = merge_sketches(spark.read.parquet(out_path), [])
    all_row = (
        ev.agg(F.countDistinct("user_id").cast("long").alias("exact_users"))
        .crossJoin(merged)
        .select(
            F.lit("all").alias("scope"),
            "exact_users",
            tol(estimate("hll_sketch"), F.col("exact_users")).alias("within_tol"),
        )
    )
    return per_day.unionByName(all_row)


# ---------------------------------------------------------------------------
# Poisson bootstrap CI (operators/bootstrap.py)
# ---------------------------------------------------------------------------
from .operators.bootstrap import poisson1_thresholds as _bs_thresholds  # noqa: E402


def _bootstrap_oracle_sql() -> str:
    ts = _bs_thresholds()
    wsum = " + ".join(f"CASE WHEN h >= {t} THEN 1 ELSE 0 END" for t in ts)
    targets = ", ".join(
        f"({q}, {int(q * 63)})" for q in (0.025, 0.5, 0.975)
    )
    return f"""
    WITH reps AS (SELECT CAST(rep AS BIGINT) AS rep FROM range(64) t(rep)),
    h AS (
        SELECT d.doc_id, d.n_chars, r.rep,
               ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':bs7:'
                                   || CAST(r.rep AS VARCHAR)), 1, 15))::BIGINT
                   AS h
        FROM documents d CROSS JOIN reps r
    ),
    w AS (SELECT rep, n_chars, {wsum} AS w FROM h),
    means AS (
        SELECT rep,
               ROUND(CAST(SUM(w * n_chars) AS DOUBLE) / SUM(w), 4) AS mean
        FROM w GROUP BY 1 HAVING SUM(w) > 0
    ),
    ranked AS (
        SELECT m.rep, m.mean,
               (SELECT COUNT(*) FROM means m2
                WHERE m2.mean < m.mean
                   OR (m2.mean = m.mean AND m2.rep < m.rep)) AS rank
        FROM means m
    )
    SELECT CAST(t.q AS DOUBLE) AS q, ranked.mean AS value
    FROM ranked JOIN (VALUES {targets}) t(q, target)
              ON ranked.rank = t.target
    """


@register("bootstrap_mean_ci", _bootstrap_oracle_sql())
def q_bootstrap_mean_ci(spark: SparkSession, sf: str) -> DataFrame:
    """Poisson-bootstrap CI for mean document length (operators/
    bootstrap.py): Poisson(1) weights via integer md5-threshold inverse
    CDF, replica means as ratios of exact integer sums, percentile CI by
    join-based order statistic — the whole uncertainty band replays
    bit-identically in SQL.  B=64 replicas, one grouped pass."""
    from .operators.bootstrap import bootstrap_ci

    docs = load(spark, sf, "documents")
    return bootstrap_ci(docs, "doc_id", "n_chars", b=64)


# ---------------------------------------------------------------------------
# Fellegi–Sunter record linkage (operators/linkage.py)
# ---------------------------------------------------------------------------
from .operators.linkage import fs_weights as _fs_weights  # noqa: E402

_FS_FIELDS = [
    ("name", 0.95, 0.005),
    ("addr", 0.90, 0.01),
    ("bal", 0.98, 0.02),
    ("nat", 0.99, 0.04),
]


def _linkage_oracle_sql() -> str:
    w = {n: _fs_weights(m, u) for n, m, u in _FS_FIELDS}
    score = " + ".join(
        f"CASE WHEN agree_{n} THEN {w[n][0]!r} ELSE {w[n][1]!r} END"
        for n, _, _ in _FS_FIELDS
    )
    return f"""
    WITH base AS (
        SELECT c_custkey AS ck, c_name, c_nationkey, c_acctbal,
               'addr ' || c_mktsegment || ' ' || CAST(c_custkey AS VARCHAR)
                   AS full_addr,
               CAST(c_nationkey AS VARCHAR) || '-'
                   || CAST(c_custkey % 13 AS VARCHAR) AS blk
        FROM customer
    ),
    recs AS (
        SELECT ck * 2 AS rec_id, c_name AS name, full_addr AS addr,
               blk, c_nationkey AS nat, c_acctbal AS bal
        FROM base
        UNION ALL
        SELECT ck * 2 + 1, upper(c_name), substr(full_addr, 1, 12),
               blk, c_nationkey, c_acctbal + 0.01
        FROM base WHERE ck % 10 = 0
    ),
    pairs AS (
        SELECT a.rec_id AS rec_a, b.rec_id AS rec_b,
               lower(trim(a.name)) IS NOT DISTINCT FROM lower(trim(b.name))
                   AS agree_name,
               substr(lower(trim(a.addr)), 1, 10) IS NOT DISTINCT FROM
                   substr(lower(trim(b.addr)), 1, 10) AS agree_addr,
               abs(a.bal - b.bal) <= 0.02 AS agree_bal,
               a.nat IS NOT DISTINCT FROM b.nat AS agree_nat
        FROM recs a JOIN recs b
          ON a.blk = b.blk AND a.rec_id < b.rec_id
    ),
    scored AS (
        SELECT *, ROUND(0.0 + {score}, 4) AS fs_score FROM pairs
    )
    SELECT rec_a, rec_b, agree_name, agree_addr, agree_bal, agree_nat,
           fs_score,
           CASE WHEN fs_score >= 10 THEN 'match'
                WHEN fs_score < 0 THEN 'nonmatch'
                ELSE 'possible' END AS band
    FROM scored
    """


@register("record_linkage_fs", _linkage_oracle_sql())
def q_record_linkage_fs(spark: SparkSession, sf: str) -> DataFrame:
    """Fellegi–Sunter linkage (operators/linkage.py) over blocking-key
    candidates (nation + custkey mod 13; the duplicate inherits its
    original's block): perturbed duplicates of every 10th customer
    (upper-cased name, truncated address, nudged balance) must score as
    matches through the normalized/prefix/tolerance comparators while
    same-block strangers fall below the review band.  Weights are inlined
    literals summed in fixed order — the score replays bit-identically;
    cost is linear in candidate pairs (blocking already bounded them)."""
    from .operators.linkage import classify_links, fs_score

    base = load(spark, sf, "customer").select(
        F.col("c_custkey").alias("ck"),
        "c_name",
        "c_nationkey",
        "c_acctbal",
        F.concat(
            F.lit("addr "), F.col("c_mktsegment"), F.lit(" "),
            F.col("c_custkey").cast("string"),
        ).alias("full_addr"),
        F.concat(
            F.col("c_nationkey").cast("string"), F.lit("-"),
            (F.col("c_custkey") % 13).cast("string"),
        ).alias("blk"),
    )
    recs = base.select(
        (F.col("ck") * 2).alias("rec_id"),
        F.col("c_name").alias("name"),
        F.col("full_addr").alias("addr"),
        "blk",
        F.col("c_nationkey").alias("nat"),
        F.col("c_acctbal").alias("bal"),
    ).unionByName(
        base.where(F.col("ck") % 10 == 0).select(
            (F.col("ck") * 2 + 1).alias("rec_id"),
            F.upper("c_name").alias("name"),
            F.substring("full_addr", 1, 12).alias("addr"),
            "blk",
            F.col("c_nationkey").alias("nat"),
            (F.col("c_acctbal") + 0.01).alias("bal"),
        )
    )
    a = recs.select(
        F.col("rec_id").alias("rec_a"),
        F.col("blk").alias("_blk"),
        *[F.col(c).alias(f"{c}_a") for c in ("name", "addr", "nat", "bal")],
    )
    b = recs.select(
        F.col("rec_id").alias("rec_b"),
        F.col("blk").alias("_blk"),
        *[F.col(c).alias(f"{c}_b") for c in ("name", "addr", "nat", "bal")],
    )
    pairs = a.join(b, "_blk").where(F.col("rec_a") < F.col("rec_b"))
    scored = fs_score(
        pairs,
        [
            {"name": "name", "left": "name_a", "right": "name_b",
             "mode": "norm", "m": 0.95, "u": 0.005},
            {"name": "addr", "left": "addr_a", "right": "addr_b",
             "mode": "prefix", "param": 10, "m": 0.90, "u": 0.01},
            {"name": "bal", "left": "bal_a", "right": "bal_b",
             "mode": "abs_tol", "param": 0.02, "m": 0.98, "u": 0.02},
            {"name": "nat", "left": "nat_a", "right": "nat_b",
             "mode": "exact", "m": 0.99, "u": 0.04},
        ],
    )
    return classify_links(scored, upper=10.0, lower=0.0).select(
        "rec_a", "rec_b", "agree_name", "agree_addr", "agree_bal",
        "agree_nat", "fs_score", "band",
    )


# ---------------------------------------------------------------------------
# Privacy / governance (operators/privacy.py)
# ---------------------------------------------------------------------------
@register(
    "privacy_k_anonymize",
    """
    WITH keep AS (
        SELECT event_type, user_id
        FROM events GROUP BY 1, 2 HAVING COUNT(*) >= 15
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS kept_rows,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS kept_users
    FROM events e SEMI JOIN keep k
      ON e.event_type = k.event_type AND e.user_id = k.user_id
    GROUP BY 1
    """,
)
def q_privacy_k_anonymize(spark: SparkSession, sf: str) -> DataFrame:
    """k-anonymity suppression (operators/privacy.py::k_anonymize): rows
    whose (event_type, user_id) quasi-identifier matches fewer than k=15
    records are dropped before release — one QI aggregate + semi-join
    back; the gate emits kept rows/users per type."""
    from .operators.privacy import k_anonymize

    ev = load(spark, sf, "events")
    kept = k_anonymize(ev, ["event_type", "user_id"], 15)
    return kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("kept_rows"),
        F.countDistinct("user_id").alias("kept_users"),
    )


@register(
    "privacy_l_diversity",
    """
    SELECT user_id, CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS sensitive_distinct
    FROM events
    GROUP BY 1, 2
    HAVING COUNT(DISTINCT event_type) >= 2
    """,
)
def q_privacy_l_diversity(spark: SparkSession, sf: str) -> DataFrame:
    """l-diversity (operators/privacy.py::l_diverse_groups): releasable
    (user, day) groups must show >= 2 distinct event types — a group
    whose sensitive attribute is constant discloses it even when
    k-anonymous.  One grouped aggregate."""
    from .operators.privacy import l_diverse_groups

    ev = load(spark, sf, "events").withColumn("day", F.to_date("ts"))
    return l_diverse_groups(ev, ["user_id", "day"], "event_type", 2)


@register(
    "privacy_dp_counts",
    """
    WITH g AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM events
        GROUP BY 1
    ),
    noise AS (
        SELECT event_type, n,
               (('0x' || substr(md5(event_type || ':dp7'), 1, 15))::BIGINT
                    + 0.5) / 1152921504606846976.0 AS u
        FROM g
    )
    SELECT event_type,
           GREATEST(0.0, ROUND(
               n + (-2.0) * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)),
               4)) AS dp_n
    FROM noise
    """,
)
def q_privacy_dp_counts(spark: SparkSession, sf: str) -> DataFrame:
    """ε-differentially-private released counts (operators/privacy.py::
    dp_counts, ε=0.5 → Laplace scale 2): noise is the inverse-CDF
    transform of the cross-engine md5 uniform, so the release is
    deterministic for a given seed (auditable, replays in SQL) while
    correctly Laplace-distributed across groups.  The exact count never
    appears in the output."""
    from .operators.privacy import dp_counts

    ev = load(spark, sf, "events")
    return dp_counts(ev, ["event_type"], epsilon=0.5)


# ---------------------------------------------------------------------------
# Web-graph triangle counting (operators/webgraph.py::triangle_counts)
# ---------------------------------------------------------------------------
@register(
    "webgraph_triangles",
    """
    WITH raw AS (
        SELECT 'h' || CAST(user_id % 20 AS VARCHAR) AS s,
               'h' || CAST((user_id % 20 + event_id % 7 + 1) % 20 AS VARCHAR)
                   AS d
        FROM events WHERE event_id % 3 = 0
    ),
    und AS (
        SELECT DISTINCT LEAST(s, d) AS u, GREATEST(s, d) AS v
        FROM raw WHERE s <> d
    ),
    tri AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM und e1
        JOIN und e2 ON e1.u = e2.u AND e1.v < e2.v
        JOIN und e3 ON e3.u = e1.v AND e3.v = e2.v
    ),
    corners AS (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    ),
    nodes AS (
        SELECT u AS node FROM und UNION SELECT v FROM und
    )
    SELECT n.node,
           CAST(COALESCE(cnt.t, 0) AS BIGINT) AS triangles
    FROM nodes n
    LEFT JOIN (SELECT node, COUNT(*) AS t FROM corners GROUP BY 1) cnt
      USING (node)
    """,
)
def q_webgraph_triangles(spark: SparkSession, sf: str) -> DataFrame:
    """Per-host triangle counts (operators/webgraph.py::triangle_counts,
    Schank & Wagner 2005 degree-ordered node-iterator): link-farm rings
    are triangle-dense — a host-graph quality signal.  The orientation
    bounds wedge out-degrees by √(2|E|), so the self-join cannot blow up
    on a hub; the oracle replays the DEFINITION (canonical 3-way join),
    proving the oriented algorithm counts exactly the same triangles."""
    from .operators.webgraph import triangle_counts

    ev = load(spark, sf, "events").where(F.col("event_id") % 3 == 0)
    edges = ev.select(
        F.concat(F.lit("h"), (F.col("user_id") % 20).cast("string")).alias("src"),
        F.concat(
            F.lit("h"),
            ((F.col("user_id") % 20 + F.col("event_id") % 7 + 1) % 20).cast(
                "string"
            ),
        ).alias("dst"),
    )
    return triangle_counts(edges)


# ---------------------------------------------------------------------------
# Rendezvous sharding + interval gap audit
# ---------------------------------------------------------------------------
@register(
    "shard_assign_rendezvous",
    """
    WITH u AS (SELECT DISTINCT user_id FROM events),
    s AS (SELECT unnest(['s0', 's1', 's2', 's3', 's4']) AS shard),
    w AS (
        SELECT u.user_id, s.shard,
               ('0x' || substr(md5(CAST(u.user_id AS VARCHAR) || ':hrw7:'
                                   || s.shard), 1, 15))::BIGINT AS w
        FROM u CROSS JOIN s
    ),
    r AS (
        SELECT user_id, shard,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY w DESC, shard DESC) AS rn
        FROM w
    )
    SELECT user_id, shard FROM r WHERE rn = 1
    """,
)
def q_shard_assign_rendezvous(spark: SparkSession, sf: str) -> DataFrame:
    """Rendezvous (HRW) shard routing (operators/partition.py::
    rendezvous_assign): each user goes to the shard with the highest
    hash(user, shard) — resizing the shard set moves only ~1/n of keys
    (modulo routing moves nearly all).  Scan-fused array_max over
    (weight, shard) structs; the oracle replays the argmax."""
    from .operators.partition import rendezvous_assign

    ev = load(spark, sf, "events").select("user_id").distinct()
    return ev.select(
        "user_id",
        rendezvous_assign(
            F.col("user_id"), ["s0", "s1", "s2", "s3", "s4"]
        ).alias("shard"),
    )


@register(
    "interval_gap_detection",
    """
    WITH thinned AS (
        SELECT event_type, ts FROM events
        WHERE (CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600) % 7 <> 3
    ),
    slots AS (
        SELECT DISTINCT event_type,
               (CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600) * 3600 AS slot
        FROM thinned
    ),
    bounds AS (
        SELECT event_type, MIN(slot) AS lo, MAX(slot) AS hi
        FROM slots GROUP BY 1
    ),
    expected AS (
        SELECT event_type, unnest(generate_series(lo, hi, 3600)) AS slot
        FROM bounds
    )
    SELECT e.event_type,
           strftime(to_timestamp(e.slot), '%Y-%m-%d %H:%M:%S') AS gap_start
    FROM expected e ANTI JOIN slots s
      ON e.event_type = s.event_type AND e.slot = s.slot
    """,
)
def q_interval_gap_detection(spark: SparkSession, sf: str) -> DataFrame:
    """Missing-partition audit (operators/validate.py::
    detect_interval_gaps): events thinned of every 7th hour must report
    exactly those hours as gaps per event_type — the backfill planner's
    input.  One aggregate to |keys| bounds, dim-side grid explode,
    anti-join against the distinct slot projection."""
    from .operators.validate import detect_interval_gaps

    ev = load(spark, sf, "events").where(
        (F.floor(F.unix_timestamp("ts") / 3600) % 7) != 3
    )
    gaps = detect_interval_gaps(ev, ["event_type"], "ts", 3600)
    return gaps.select(
        "event_type", _fmt_ts(F.col("gap_start")).alias("gap_start")
    )


@register(
    "streaming_trending_scores",
    f"""
    WITH daily AS (
        SELECT 'p' || CAST(event_id % 50 AS VARCHAR) AS path,
               CAST(FLOOR(epoch(CAST(ts AS DATE))) AS BIGINT) + 86400
                   AS anchor_s,
               ROUND(SUM(POWER(0.5,
                    GREATEST(0, CAST(FLOOR(epoch(CAST(ts AS DATE))) AS BIGINT)
                                + 86400
                                - CAST(FLOOR(epoch(ts)) AS BIGINT))
                    / {_TREND_HL}.0)), 4) AS score
        FROM events
        GROUP BY 1, 2
    )
    SELECT path,
           ROUND(SUM(score * POWER(0.5,
                CAST({_TREND_NOW} - anchor_s AS DOUBLE) / {_TREND_HL}.0)), 4)
               AS score
    FROM daily
    GROUP BY 1
    """,
)
def q_streaming_trending_scores(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming-maintained decayed trending counters (streaming/
    trending.py over the shared touched-partition MERGE sink): the drain
    folds events into day-anchored partials; reading re-anchors them to
    "now" with one multiply per partial row.  Stream == batch: the
    oracle is the same partial-build + re-anchor replay as the batch
    trending_merge_rollup gate."""
    import hashlib
    import os
    import shutil
    import tempfile

    from .streaming.trending import read_trending, streaming_decayed_partials

    schema = spark.read.parquet(f"{sf}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(f"{sf}/events.*")
        .select(
            F.concat(F.lit("p"), (F.col("event_id") % 50).cast("string")).alias(
                "path"
            ),
            "ts",
        )
    )
    name = "stream_gate_trending"
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    out_path = os.path.join(
        tempfile.gettempdir(), f"spark_graft_{os.getuid()}_stream_trend_{tag}"
    )
    shutil.rmtree(out_path, ignore_errors=True)
    ckpt = tempfile.mkdtemp(prefix="ckpt_gate_trend_")
    try:
        query = streaming_decayed_partials(
            stream, ["path"], "ts", _TREND_HL, out_path, ckpt, query_name=name
        )
        query.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return read_trending(spark, out_path, ["path"], _TREND_NOW, _TREND_HL)


# ---------------------------------------------------------------------------
# CountSketch join-size estimation (operators/sketches.py::cs_*)
# ---------------------------------------------------------------------------
@register(
    "cs_join_size_estimate",
    """
    WITH a AS (
        SELECT CAST(user_id AS VARCHAR) AS item FROM events
        WHERE event_type IN ('click', 'view')
    ),
    b AS (
        SELECT CAST(user_id AS VARCHAR) AS item FROM events
        WHERE event_type = 'purchase'
    ),
    rr AS (SELECT unnest([0, 1, 2, 3, 4]) AS r),
    ca AS (
        SELECT r,
               CAST(('0x' || substr(md5(item || ':cs11:' || CAST(r AS VARCHAR)),
                                    1, 15))::BIGINT % 512 AS INT) AS c,
               CAST(SUM((('0x' || substr(md5(item || ':css11:'
                                             || CAST(r AS VARCHAR)),
                                         1, 15))::BIGINT % 2) * 2 - 1)
                    AS BIGINT) AS v
        FROM a CROSS JOIN rr GROUP BY 1, 2
    ),
    cb AS (
        SELECT r,
               CAST(('0x' || substr(md5(item || ':cs11:' || CAST(r AS VARCHAR)),
                                    1, 15))::BIGINT % 512 AS INT) AS c,
               CAST(SUM((('0x' || substr(md5(item || ':css11:'
                                             || CAST(r AS VARCHAR)),
                                         1, 15))::BIGINT % 2) * 2 - 1)
                    AS BIGINT) AS v
        FROM b CROSS JOIN rr GROUP BY 1, 2
    ),
    ip AS (
        SELECT rr.r,
               CAST(COALESCE((SELECT SUM(ca.v * cb.v) FROM ca JOIN cb
                              ON ca.r = rr.r AND cb.r = rr.r
                             AND ca.c = cb.c), 0) AS BIGINT) AS ipr
        FROM rr
    ),
    truth AS (
        SELECT CAST(SUM(na.n * nb.n) AS BIGINT) AS true_pairs
        FROM (SELECT item, COUNT(*) AS n FROM a GROUP BY 1) na
        JOIN (SELECT item, COUNT(*) AS n FROM b GROUP BY 1) nb
          USING (item)
    )
    SELECT t.true_pairs,
           CAST((SELECT MEDIAN(ipr) FROM ip) AS DOUBLE) AS join_size_est
    FROM truth t
    """,
)
def q_cs_join_size_estimate(spark: SparkSession, sf: str) -> DataFrame:
    """CountSketch inner product as a pre-shuffle join-size estimator
    (operators/sketches.py::cs_*): |A ⋈ B| on user_id predicted from two
    depth×width sketch tables — the "will this join explode" statistic a
    planner reads without scanning raw data.  Exact integer arithmetic
    (±1 sign sums, integer products, median of odd-many values), so the
    oracle hash-matches the ESTIMATE itself, alongside the true size."""
    from .operators.sketches import cs_inner_product, cs_sketch_build

    ev = load(spark, sf, "events")
    a = ev.where(F.col("event_type").isin("click", "view"))
    b = ev.where(F.col("event_type") == "purchase")
    sa = cs_sketch_build(a, [], "user_id", width=512, depth=5)
    sb = cs_sketch_build(b, [], "user_id", width=512, depth=5)
    est = cs_inner_product(sa, sb)
    truth = (
        a.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("na"))
        .join(
            b.groupBy("user_id").agg(F.count(F.lit(1)).alias("nb")), "user_id"
        )
        .agg(F.sum(F.col("na") * F.col("nb")).cast("long").alias("true_pairs"))
    )
    return truth.crossJoin(est).select(
        "true_pairs", F.col("join_size_est").cast("double").alias("join_size_est")
    )


# ---------------------------------------------------------------------------
# Table profiling (operators/profile.py)
# ---------------------------------------------------------------------------
@register(
    "table_profile_events",
    """
    SELECT 'event_id' AS column, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS nulls,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS distinct_n,
           ROUND(CAST(MIN(event_id) AS DOUBLE), 4) AS min_num,
           ROUND(CAST(MAX(event_id) AS DOUBLE), 4) AS max_num,
           CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
    FROM events
    UNION ALL
    SELECT 'user_id', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT user_id) AS BIGINT),
           ROUND(CAST(MIN(user_id) AS DOUBLE), 4),
           ROUND(CAST(MAX(user_id) AS DOUBLE), 4), NULL, NULL
    FROM events
    UNION ALL
    SELECT 'event_type', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT event_type) AS BIGINT),
           NULL, NULL, MIN(event_type), MAX(event_type)
    FROM events
    UNION ALL
    SELECT 'value', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT value) AS BIGINT),
           ROUND(CAST(MIN(value) AS DOUBLE), 4),
           ROUND(CAST(MAX(value) AS DOUBLE), 4), NULL, NULL
    FROM events
    """,
)
def q_table_profile_events(spark: SparkSession, sf: str) -> DataFrame:
    """Single-scan column profiling (operators/profile.py::profile_table,
    exact=True for the gate): rowcount / nulls / distinct / bounds for
    every column from ONE aggregate row unpivoted driver-side.  The
    default mode swaps count_distinct for HLL so the 100 TB scan stays a
    plain hash aggregate (no Expand multiplication)."""
    from .operators.profile import profile_table

    ev = load(spark, sf, "events")
    return profile_table(
        ev, ["event_id", "user_id", "event_type", "value"], exact=True
    )


# ---------------------------------------------------------------------------
# HITS hubs/authorities (operators/graph.py::hits_quantized)
# ---------------------------------------------------------------------------
def _hits_sql(iterations: int = 3) -> str:
    ctes = [
        """ordered AS (
        SELECT event_type AS dst,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
        FROM events
    )""",
        """edges AS (
        SELECT src, dst, COUNT(*) AS weight FROM ordered
        WHERE src IS NOT NULL GROUP BY 1, 2
    )""",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS hub FROM nodes)",
    ]
    for t in range(1, iterations + 1):
        ctes.append(
            f"""ar{t} AS (
        SELECT e.dst, SUM(h.hub * e.weight) AS a_raw
        FROM edges e JOIN h{t - 1} h ON h.node = e.src GROUP BY 1
    )"""
        )
        ctes.append(
            f"a{t} AS (SELECT dst, (a_raw * 1000000) // "
            f"(SELECT MAX(a_raw) FROM ar{t}) AS auth FROM ar{t})"
        )
        ctes.append(
            f"""hr{t} AS (
        SELECT e.src, SUM(a.auth * e.weight) AS h_raw
        FROM edges e JOIN a{t} a ON a.dst = e.dst GROUP BY 1
    )"""
        )
        ctes.append(
            f"h{t} AS (SELECT hr{t}.src AS node, (h_raw * 1000000) // "
            f"(SELECT MAX(h_raw) FROM hr{t}) AS hub FROM hr{t})"
        )
    body = ",\n    ".join(ctes)
    return f"""WITH {body}
    SELECT n.node,
           CAST(COALESCE(h.hub, 0) AS BIGINT) AS hub_micro,
           CAST(COALESCE(a.auth, 0) AS BIGINT) AS auth_micro
    FROM nodes n
    LEFT JOIN h{iterations} h ON h.node = n.node
    LEFT JOIN a{iterations} a ON a.dst = n.node
    """


@register("hits_event_transitions", _hits_sql())
def q_hits_event_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-integer HITS hubs/authorities (operators/graph.py::
    hits_quantized) over the same distilled transition graph as the
    PageRank gate: mutual-reinforcement rounds with max-normalized
    integer scores — the oracle replays the full 3-round trajectory with
    `//` and lands on identical numbers.  Hubs and authorities separate
    link-farm-ish pointers from pointed-at targets, the pair PageRank
    collapses into one number."""
    from .operators.graph import hits_quantized, transition_edges

    edges = transition_edges(
        load(spark, sf, "events"), "user_id", "ts", "event_type", "event_id"
    )
    return hits_quantized(edges, iterations=3)


# ---------------------------------------------------------------------------
# Seasonal hour-of-day anomaly (operators/anomaly.py::seasonal_hour_anomaly)
# ---------------------------------------------------------------------------
@register(
    "anomaly_seasonal_hourly",
    """
    WITH hourly AS (
        SELECT event_type,
               (CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600) * 3600 AS hour_s,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    h2 AS (
        SELECT *, CAST((hour_s // 3600) % 24 AS INT) AS hod FROM hourly
    ),
    base AS (
        SELECT event_type, hod,
               CAST(MEDIAN(n) * 2 AS BIGINT) AS baseline_x2
        FROM h2 GROUP BY 1, 2
    )
    SELECT h2.event_type,
           strftime(to_timestamp(h2.hour_s), '%Y-%m-%d %H:%M:%S') AS hour_ts,
           h2.hod, h2.n, b.baseline_x2,
           h2.n * 200 > 300 * b.baseline_x2 AS anomalous
    FROM h2 JOIN base b ON b.event_type = h2.event_type AND b.hod = h2.hod
    """,
)
def q_anomaly_seasonal_hourly(spark: SparkSession, sf: str) -> DataFrame:
    """Hour-of-day seasonal anomaly (operators/anomaly.py::
    seasonal_hour_anomaly): each hour judged against the exact median of
    the SAME clock hour's history per event_type — diurnal swings stop
    tripping the clock-blind MAD/CUSUM detectors.  Exact-integer verdict
    (2x-median keeps .5 steps integral); two grouped aggregates + a
    broadcast join back."""
    from .operators.anomaly import seasonal_hour_anomaly

    ev = load(spark, sf, "events")
    out = seasonal_hour_anomaly(ev, ["event_type"], "ts", threshold_pct=300)
    return out.select(
        "event_type",
        _fmt_ts(F.col("hour_ts")).alias("hour_ts"),
        "hod", "n", "baseline_x2", "anomalous",
    )


# ---------------------------------------------------------------------------
# URL path template mining (operators/urls.py::path_template)
# ---------------------------------------------------------------------------
@register(
    "url_path_templates",
    """
    WITH paths AS (
        SELECT CASE event_id % 5
            WHEN 0 THEN '/users/' || CAST(user_id AS VARCHAR)
                        || '/orders/' || CAST(event_id % 97 AS VARCHAR)
            WHEN 1 THEN '/item-' || CAST(event_id % 50 AS VARCHAR) || '/view'
            WHEN 2 THEN '/docs/' || substr(md5(CAST(event_id AS VARCHAR)), 1, 12)
            WHEN 3 THEN '/u/' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)
                        || '-' || substr(md5(CAST(event_id AS VARCHAR)), 9, 4)
                        || '-' || substr(md5(CAST(event_id AS VARCHAR)), 13, 4)
                        || '-' || substr(md5(CAST(event_id AS VARCHAR)), 17, 4)
                        || '-' || substr(md5(CAST(event_id AS VARCHAR)), 21, 12)
                        || '/profile?tab=' || CAST(event_id % 3 AS VARCHAR)
            ELSE '/static/css/app.css'
        END AS path
        FROM events
    ),
    templated AS (
        SELECT path,
               array_to_string(
                   list_transform(
                       string_split(regexp_replace(path, '[?#].*$', ''), '/'),
                       s -> CASE
                           WHEN regexp_full_match(s,
                               '[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}'
                               || '-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}')
                               THEN '{uuid}'
                           WHEN regexp_full_match(s, '[0-9a-fA-F]{8,}')
                                AND regexp_matches(s, '[0-9]')
                               THEN '{hex}'
                           ELSE regexp_replace(s, '[0-9]+', '{n}', 'g')
                       END),
                   '/') AS template
        FROM paths
    )
    SELECT template, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT path) AS BIGINT) AS distinct_paths
    FROM templated GROUP BY 1
    """,
)
def q_url_path_templates(spark: SparkSession, sf: str) -> DataFrame:
    """Route-template mining (operators/urls.py::path_template): per-URL
    cardinality is unbounded (every id mints a URL); the anchored
    per-segment generalization (uuid → hex-id → digit runs, query/
    fragment stripped) collapses it to the route table — the grouping
    key access analytics actually want.  Segment-wise split/transform/
    join on purpose: lookbehind has no RE2 form and the consuming form
    mis-handles adjacent id segments."""
    from .operators.urls import path_template_counts

    ev = load(spark, sf, "events")
    md = F.md5(F.col("event_id").cast("string"))
    uuid = F.concat_ws(
        "-",
        F.substring(md, 1, 8), F.substring(md, 9, 4), F.substring(md, 13, 4),
        F.substring(md, 17, 4), F.substring(md, 21, 12),
    )
    path = (
        F.when(
            F.col("event_id") % 5 == 0,
            F.concat(
                F.lit("/users/"), F.col("user_id").cast("string"),
                F.lit("/orders/"), (F.col("event_id") % 97).cast("string"),
            ),
        )
        .when(
            F.col("event_id") % 5 == 1,
            F.concat(
                F.lit("/item-"), (F.col("event_id") % 50).cast("string"),
                F.lit("/view"),
            ),
        )
        .when(
            F.col("event_id") % 5 == 2,
            F.concat(F.lit("/docs/"), F.substring(md, 1, 12)),
        )
        .when(
            F.col("event_id") % 5 == 3,
            F.concat(
                F.lit("/u/"), uuid, F.lit("/profile?tab="),
                (F.col("event_id") % 3).cast("string"),
            ),
        )
        .otherwise("/static/css/app.css")
    )
    return path_template_counts(ev.select(path.alias("path")))


# ---------------------------------------------------------------------------
# Composed access-log pipeline: grok parse -> GeoIP enrich -> aggregate
# ---------------------------------------------------------------------------
def _access_pipeline_oracle() -> str:
    # the grok stage reuses the compiled access regex; the geoip stage the
    # longest-prefix definition; the whole chain replays as one SQL query
    max_idx = max(idx for _, idx, _ in _GROK_ACCESS_FIELDS)
    names = [f"_u{i}" for i in range(1, max_idx + 1)]
    for field, idx, _ in _GROK_ACCESS_FIELDS:
        names[idx - 1] = field
    name_list = "[" + ", ".join(f"'{n}'" for n in names) + "]"
    return (
        """
    WITH lines AS (
        SELECT event_id,
               '10.' || CAST(user_id % 25 AS VARCHAR) || '.'
                     || CAST(event_id % 250 AS VARCHAR) || '.7'
               || ' - u' || CAST(user_id AS VARCHAR)
               || ' [' || strftime(ts, '%d/%b/%Y:%H:%M:%S') || ' +0000] "'
               || CASE event_type WHEN 'view' THEN 'GET'
                                  WHEN 'click' THEN 'POST'
                                  WHEN 'purchase' THEN 'PUT'
                                  ELSE 'GET' END
               || ' /p/' || CAST(event_id % 50 AS VARCHAR)
               || ' HTTP/1.1" '
               || CASE WHEN event_type = 'error' THEN '500' ELSE '200' END
               || ' ' || CAST(CAST(FLOOR(ABS(value) * 100) AS BIGINT) AS VARCHAR)
               || ' "agent/' || CAST(user_id % 4 AS VARCHAR) || '"' AS line
        FROM events
    ),
    parsed AS (
        SELECT event_id, regexp_extract(line, '__RX__', __NAMES__) AS g
        FROM lines
    ),
    fields AS (
        SELECT event_id, g.clientip AS ip,
               CAST(NULLIF(g.status, '') AS BIGINT) AS status,
               CAST(NULLIF(g.bytes, '') AS BIGINT) AS bytes
        FROM parsed
    ),
    nat AS (SELECT n_nationkey AS nk, n_name FROM nation),
    dims AS (
        SELECT CAST(10 * 16777216 + nk * 65536 AS BIGINT) AS lo,
               CAST(10 * 16777216 + (nk + 1) * 65536 AS BIGINT) AS hi,
               16 AS prefix_len, n_name AS geo
        FROM nat
        UNION ALL
        SELECT CAST(0 AS BIGINT), CAST(4294967296 AS BIGINT), 0, 'XX'
    ),
    located AS (
        SELECT f.status, f.bytes, d.geo,
               ROW_NUMBER() OVER (
                   PARTITION BY f.event_id
                   ORDER BY d.prefix_len DESC) AS rn
        FROM fields f
        LEFT JOIN dims d
          ON CAST(split_part(f.ip, '.', 1) AS BIGINT) * 16777216
           + CAST(split_part(f.ip, '.', 2) AS BIGINT) * 65536
           + CAST(split_part(f.ip, '.', 3) AS BIGINT) * 256
           + CAST(split_part(f.ip, '.', 4) AS BIGINT) >= d.lo
         AND CAST(split_part(f.ip, '.', 1) AS BIGINT) * 16777216
           + CAST(split_part(f.ip, '.', 2) AS BIGINT) * 65536
           + CAST(split_part(f.ip, '.', 3) AS BIGINT) * 256
           + CAST(split_part(f.ip, '.', 4) AS BIGINT) < d.hi
    )
    SELECT geo, status,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(bytes) AS BIGINT) AS bytes_sum
    FROM located WHERE rn = 1
    GROUP BY 1, 2
    """.replace("__NAMES__", name_list)
        .replace("__RX__", _GROK_ACCESS_RX)
    )


@register("access_log_pipeline", _access_pipeline_oracle())
def q_access_log_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """The session's front-end composed end-to-end: synthesize Apache
    lines from events -> grok-compiled regex parse (functions/grok.py)
    -> CIDR longest-prefix GeoIP enrich (operators/iplookup.py, flatten
    + broadcast bucketed join) -> per-(geo, status) traffic aggregate.
    Every stage is the production operator; the oracle replays the whole
    chain in one SQL query (regex via the name-list struct, geoip via
    the longest-prefix definition)."""
    from .functions.grok import grok_extract
    from .operators.iplookup import flatten_prefixes, ip_enrich

    ev = load(spark, sf, "events")
    nat = load(spark, sf, "nation")
    line = F.concat(
        F.lit("10."), (F.col("user_id") % 25).cast("string"),
        F.lit("."), (F.col("event_id") % 250).cast("string"), F.lit(".7"),
        F.lit(" - u"), F.col("user_id").cast("string"),
        F.lit(" ["), F.date_format("ts", "dd/MMM/yyyy:HH:mm:ss"),
        F.lit(" +0000] \""),
        F.when(F.col("event_type") == "view", "GET")
        .when(F.col("event_type") == "click", "POST")
        .when(F.col("event_type") == "purchase", "PUT")
        .otherwise("GET"),
        F.lit(" /p/"), (F.col("event_id") % 50).cast("string"),
        F.lit(" HTTP/1.1\" "),
        F.when(F.col("event_type") == "error", "500").otherwise("200"),
        F.lit(" "),
        F.floor(F.abs(F.col("value")) * 100).cast("long").cast("string"),
        F.lit(" \"agent/"), (F.col("user_id") % 4).cast("string"), F.lit("\""),
    )
    # line staged as a column for the same single-evaluation reason as
    # q_grok_parse_access_logs (r6)
    parsed = (
        ev.select(line.alias("_line"))
        .select(grok_extract(F.col("_line"), _GROK_ACCESS_PAT).alias("g"))
        .select(
            F.col("g.clientip").alias("ip"),
            F.col("g.status").alias("status"),
            F.col("g.bytes").alias("bytes"),
        )
    )
    base = F.lit(10 * 16777216)
    dims = nat.select(
        (base + F.col("n_nationkey") * 65536).cast("long").alias("net"),
        F.lit(16).alias("prefix_len"),
        F.col("n_name").alias("geo"),
    ).unionByName(
        ev.sparkSession.createDataFrame(
            [(0, 0, "XX")], "net long, prefix_len int, geo string"
        )
    )
    flat = flatten_prefixes(dims, ["geo"])
    located = ip_enrich(parsed, "ip", flat, ["geo"])
    return located.groupBy("geo", "status").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("bytes").cast("long").alias("bytes_sum"),
    )


# ---------------------------------------------------------------------------
# A/B experiment analysis (operators/experiment.py)
# ---------------------------------------------------------------------------
@register(
    "experiment_readout",
    """
    WITH assigned AS (
        SELECT user_id, value,
               CASE WHEN b < 50 THEN 'A' WHEN b < 80 THEN 'B'
                    ELSE 'C' END AS variant
        FROM (SELECT user_id, value,
                     ('0x' || substr(md5(CAST(user_id AS VARCHAR)
                                         || ':exp:exp1:7'), 1, 15))::BIGINT
                         % 100 AS b
              FROM events)
    ),
    units AS (SELECT DISTINCT user_id, variant FROM assigned),
    o AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
               CAST(SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT)
                   AS oa,
               CAST(SUM(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT)
                   AS ob,
               CAST(SUM(CASE WHEN variant = 'C' THEN 1 ELSE 0 END) AS BIGINT)
                   AS oc
        FROM units
    ),
    srm AS (
        SELECT n_units,
               ROUND(
                 (oa - CAST(n_units AS DOUBLE) * 50 / 100)
                   * (oa - CAST(n_units AS DOUBLE) * 50 / 100)
                   / (CAST(n_units AS DOUBLE) * 50 / 100)
                 + (ob - CAST(n_units AS DOUBLE) * 30 / 100)
                   * (ob - CAST(n_units AS DOUBLE) * 30 / 100)
                   / (CAST(n_units AS DOUBLE) * 30 / 100)
                 + (oc - CAST(n_units AS DOUBLE) * 20 / 100)
                   * (oc - CAST(n_units AS DOUBLE) * 20 / 100)
                   / (CAST(n_units AS DOUBLE) * 20 / 100), 4) AS chi2
        FROM o
    ),
    per AS (
        SELECT variant,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_units,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               SUM(value) / COUNT(*) AS m
        FROM assigned GROUP BY 1
    ),
    ctrl AS (SELECT m AS cm FROM per WHERE variant = 'A')
    SELECT p.variant, p.n_units, p.n_events,
           ROUND(p.m, 4) AS value_mean,
           ROUND((p.m - c.cm) * 100 / c.cm, 2) AS lift_pct,
           s.chi2, s.chi2 > 13.816 AS srm
    FROM per p CROSS JOIN ctrl c CROSS JOIN srm s
    """,
)
def q_experiment_readout(spark: SparkSession, sf: str) -> DataFrame:
    """A/B experiment readout (operators/experiment.py): md5 unit
    bucketing into A/B/C at 50/30/20, per-variant unit/event counts +
    metric means + lift vs control, and the sample-ratio-mismatch
    chi-square guard (fixed-order expression, 0.001 critical value) every
    readout must pass before anyone reads the lift."""
    from .operators.experiment import assign_variant, srm_check, variant_metrics

    weights = {"A": 50, "B": 30, "C": 20}
    ev = load(spark, sf, "events").select(
        "user_id",
        "value",
        assign_variant(F.col("user_id"), "exp1", weights).alias("variant"),
    )
    metrics = variant_metrics(ev, "user_id", "variant", "value", control="A")
    srm = srm_check(ev, "user_id", "variant", weights).select("chi2", "srm")
    return metrics.crossJoin(F.broadcast(srm))


@register(
    "experiment_cuped",
    """
    WITH per_unit AS (
        SELECT user_id,
               CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)
                                              || ':exp:exp1:7'), 1, 15))::BIGINT
                         % 100 < 50 THEN 'A'
                    WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)
                                              || ':exp:exp1:7'), 1, 15))::BIGINT
                         % 100 < 80 THEN 'B'
                    ELSE 'C' END AS variant,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS y,
               CAST(SUM(CASE WHEN event_type IN ('view', 'click') THEN 1
                             ELSE 0 END) AS BIGINT) AS x
        FROM events GROUP BY 1
    ),
    g AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM per_unit
    ),
    t AS (
        SELECT n, sx,
               CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
                    ELSE CAST(n * sxy - sx * sy AS DOUBLE)
                         / (n * sxx - sx * sx) END AS theta
        FROM g
    ),
    per AS (
        SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_units,
               CAST(SUM(y) AS BIGINT) AS vy, CAST(SUM(x) AS BIGINT) AS vx
        FROM per_unit GROUP BY 1
    )
    SELECT p.variant, p.n_units,
           ROUND(CAST(p.vy AS DOUBLE) / p.n_units, 4) AS mean_raw,
           ROUND(CAST(p.vy AS DOUBLE) / p.n_units
                 - t.theta * (CAST(p.vx AS DOUBLE) / p.n_units
                              - CAST(t.sx AS DOUBLE) / t.n), 4) AS mean_cuped,
           ROUND(t.theta, 4) AS theta
    FROM per p CROSS JOIN t
    """,
)
def q_experiment_cuped(spark: SparkSession, sf: str) -> DataFrame:
    """CUPED-adjusted readout (operators/experiment.py::cuped_adjust,
    Deng et al. WSDM 2013): per-user purchase counts adjusted by the
    view/click covariate — pooled θ from the closed-form integer-sum
    identity, so θ and the adjusted means replay bit-identically in SQL.
    Two aggregates, no window; adjustment at the randomization grain."""
    from .operators.experiment import assign_variant, cuped_adjust

    weights = {"A": 50, "B": 30, "C": 20}
    ev = load(spark, sf, "events")
    per_unit = (
        ev.groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("y"),
            F.sum(
                F.when(F.col("event_type").isin("view", "click"), 1).otherwise(0)
            ).alias("x"),
        )
        .withColumn(
            "variant", assign_variant(F.col("user_id"), "exp1", weights)
        )
    )
    return cuped_adjust(per_unit, "variant", "y", "x")


def _lift_ci_oracle() -> str:
    ts = _bs_thresholds()
    wsum = " + ".join(f"CASE WHEN h >= {t} THEN 1 ELSE 0 END" for t in ts)
    targets = ", ".join(f"({q}, {int(q * 63)})" for q in (0.025, 0.5, 0.975))
    return f"""
    WITH per_unit AS (
        SELECT user_id,
               CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)
                                              || ':exp:exp1:7'), 1, 15))::BIGINT
                         % 100 < 50 THEN 'A'
                    WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)
                                              || ':exp:exp1:7'), 1, 15))::BIGINT
                         % 100 < 80 THEN 'B'
                    ELSE 'C' END AS variant,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    two AS (SELECT * FROM per_unit WHERE variant IN ('A', 'B')),
    reps AS (SELECT CAST(rep AS BIGINT) AS rep FROM range(64) t(rep)),
    wts AS (
        SELECT u.variant, u.y, r.rep,
               ('0x' || substr(md5(CAST(u.user_id AS VARCHAR) || ':bs7:'
                                   || CAST(r.rep AS VARCHAR)), 1, 15))::BIGINT
                   AS h
        FROM two u CROSS JOIN reps r
    ),
    per AS (
        SELECT rep, variant,
               CAST(SUM(({wsum}) * y) AS BIGINT) AS wy,
               CAST(SUM({wsum}) AS BIGINT) AS sw
        FROM wts GROUP BY 1, 2
    ),
    lifts AS (
        SELECT c.rep,
               ROUND((CAST(t.wy AS DOUBLE) / t.sw
                      - CAST(c.wy AS DOUBLE) / c.sw) * 100
                     / (CAST(c.wy AS DOUBLE) / c.sw), 4) AS lift
        FROM (SELECT * FROM per WHERE variant = 'A') c
        JOIN (SELECT * FROM per WHERE variant = 'B') t USING (rep)
        WHERE c.sw > 0 AND t.sw > 0 AND c.wy > 0
    ),
    ranked AS (
        SELECT l.rep, l.lift,
               (SELECT COUNT(*) FROM lifts l2
                WHERE l2.lift < l.lift
                   OR (l2.lift = l.lift AND l2.rep < l.rep)) AS rank
        FROM lifts l
    )
    SELECT CAST(t.q AS DOUBLE) AS q, ranked.lift AS lift_pct
    FROM ranked JOIN (VALUES {targets}) t(q, target)
              ON ranked.rank = t.target
    """


@register("experiment_lift_ci", _lift_ci_oracle())
def q_experiment_lift_ci(spark: SparkSession, sf: str) -> DataFrame:
    """Bootstrap CI on the B-vs-A lift (operators/experiment.py::
    lift_ci): Poisson(1) unit resampling at the randomization grain,
    replica lifts as ratios of exact integer sums, join-based
    order-statistic interval — the uncertainty band the point lift must
    ship with; fully SQL-replayed including the weights."""
    from .operators.experiment import assign_variant, lift_ci

    weights = {"A": 50, "B": 30, "C": 20}
    ev = load(spark, sf, "events")
    per_unit = (
        ev.groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("y")
        )
        .withColumn(
            "variant", assign_variant(F.col("user_id"), "exp1", weights)
        )
    )
    return lift_ci(per_unit, "user_id", "variant", "y", "A", "B", b=64)


# ---------------------------------------------------------------------------
# Functional-dependency audit (operators/validate.py::fd_violations)
# ---------------------------------------------------------------------------
@register(
    "fd_violation_audit",
    """
    WITH pairs AS (
        SELECT user_id % 100 AS bucket, event_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS distinct_rhs,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           MIN(event_type) AS rhs_min, MAX(event_type) AS rhs_max,
           CAST(MAX(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
                AS INT) AS rhs_has_null
    FROM pairs GROUP BY 1 HAVING COUNT(*) > 1
    """,
)
def q_fd_violation_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Functional-dependency audit (operators/validate.py::
    fd_violations): keys of the user bucket violating
    bucket -> event_type, with distinct counts, row counts, and two
    deterministic witness values — the schema-assumption check that
    catches silent join fan-out.  Pre-aggregated (lhs, rhs) pairs, no
    distinct-count over raw rows."""
    from .operators.validate import fd_violations

    ev = load(spark, sf, "events").select(
        (F.col("user_id") % 100).alias("bucket"), "event_type"
    )
    return fd_violations(ev, ["bucket"], "event_type")


# ---------------------------------------------------------------------------
# RAKE keyphrases (operators/rake.py::rake_keyphrases)
# ---------------------------------------------------------------------------
def _rake_oracle() -> str:
    from .functions.textstats import STOPWORDS
    from .operators.rake import rake_delim_regex

    # '' doubles any single quote a custom stopword could carry; the
    # regex itself is metachar-safe via re.escape inside the builder
    delim = rake_delim_regex(STOPWORDS["en"]).replace("'", "''")
    return f"""
    WITH pieces AS (
        SELECT unnest(regexp_split_to_array(lower(text), '{delim}')) AS p
        FROM documents
    ), phr AS (
        SELECT trim(regexp_replace(p, '\\s+', ' ', 'g')) AS phrase
        FROM pieces
    ), phrases AS (
        SELECT phrase FROM phr
        WHERE phrase != '' AND len(string_split(phrase, ' ')) <= 4
    ), words AS (
        SELECT unnest(string_split(phrase, ' ')) AS word,
               len(string_split(phrase, ' ')) AS plen
        FROM phrases
    ), ws AS (
        SELECT word,
               (CAST(SUM(plen) AS BIGINT) * 1000000)
                   // CAST(COUNT(*) AS BIGINT) AS wscore
        FROM words GROUP BY 1
    ), counts AS (
        SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n
        FROM phrases GROUP BY 1
    ), pw AS (
        SELECT c.phrase, c.n,
               unnest(string_split(c.phrase, ' ')) AS word
        FROM counts c WHERE n >= 2
    ), sc AS (
        SELECT phrase, n, CAST(SUM(ws.wscore) AS BIGINT) AS score_ppm
        FROM pw JOIN ws USING (word) GROUP BY 1, 2
    )
    SELECT phrase, n, score_ppm FROM sc
    ORDER BY score_ppm DESC, phrase LIMIT 50
    """


@register("rake_keyphrases_docs", _rake_oracle())
def q_rake_keyphrases_docs(spark: SparkSession, sf: str) -> DataFrame:
    """RAKE keyphrases over the documents corpus (operators/rake.py):
    one shared phrase-boundary regex (punctuation or stopword, Java∩RE2),
    degree/frequency word scores in exact ppm, integer phrase sums,
    skew-proof top-50 with a total order — the oracle replays the
    identical split and fixed-point arithmetic."""
    from .operators.rake import rake_keyphrases

    return rake_keyphrases(
        load(spark, sf, "documents"), "text",
        max_words=4, min_count=2, top=50,
    )


# ---------------------------------------------------------------------------
# Skyline / Pareto frontier (operators/skyline.py::skyline)
# ---------------------------------------------------------------------------
@register(
    "skyline_users",
    """
    WITH u AS (
        SELECT user_id,
               CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
                   AS spend_cents,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS errors
        FROM events WHERE value IS NOT NULL GROUP BY 1
    )
    SELECT user_id, spend_cents, errors
    FROM u t
    WHERE NOT EXISTS (
        SELECT 1 FROM u o
        WHERE o.spend_cents >= t.spend_cents AND o.errors <= t.errors
          AND (o.spend_cents > t.spend_cents OR o.errors < t.errors)
    )
    """,
)
def q_skyline_users(spark: SparkSession, sf: str) -> DataFrame:
    """Pareto frontier of users (operators/skyline.py::skyline):
    maximize total spend (exact cents), minimize error count — the
    rows no weighted score may drop.  Two-phase: vectorized per-batch
    numpy frontier prune, then one dominance anti-join among the
    candidates; the oracle is an independent NOT EXISTS dominance
    statement over the same integer aggregates."""
    from .operators.skyline import skyline

    # value IS NOT NULL on both sides: a user whose values are ALL
    # NULL would otherwise aggregate to spend_cents NULL, which
    # skyline() rejects loudly while the oracle's NOT EXISTS silently
    # keeps the row (NULL comparisons are unknown)
    ev = load(spark, sf, "events").where(F.col("value").isNotNull())
    u = ev.groupBy("user_id").agg(
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias(
            "spend_cents"
        ),
        F.sum(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        ).cast("long").alias("errors"),
    )
    return skyline(u, maximize=["spend_cents"], minimize=["errors"])


# ---------------------------------------------------------------------------
# Benford first-digit audit (operators/benford.py::benford_audit)
# ---------------------------------------------------------------------------
def _benford_oracle() -> str:
    from .operators.benford import BENFORD_PPM

    vals = ", ".join(f"({d}, {p})" for d, p in BENFORD_PPM.items())
    return f"""
    WITH exp AS (SELECT * FROM (VALUES {vals}) e(digit, exp_ppm)),
    obs AS (
        SELECT CAST(regexp_extract(CAST(value AS VARCHAR), '([1-9])', 1)
                    AS INT) AS digit,
               CAST(COUNT(*) AS BIGINT) AS obs
        FROM events
        WHERE value IS NOT NULL AND value > 0
          AND regexp_extract(CAST(value AS VARCHAR), '([1-9])', 1) != ''
        GROUP BY 1
    ),
    t AS (SELECT CAST(SUM(obs) AS BIGINT) AS total FROM obs)
    SELECT e.digit, COALESCE(o.obs, 0) AS obs, t.total,
           CAST(e.exp_ppm AS BIGINT) AS exp_ppm,
           ROUND((COALESCE(o.obs, 0) - t.total * e.exp_ppm / 1000000.0)
                 * (COALESCE(o.obs, 0) - t.total * e.exp_ppm / 1000000.0)
                 / (t.total * e.exp_ppm / 1000000.0), 4) AS chi2
    FROM exp e LEFT JOIN obs o ON o.digit = e.digit CROSS JOIN t
    """


@register("benford_value_audit", _benford_oracle())
def q_benford_value_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Benford first-digit screen over event values (operators/
    benford.py): per-digit observed counts vs the log10(1+1/d)
    expectation (ppm literals) with per-digit chi-square contributions
    — string-based digit extraction, no log10 boundary, no float
    aggregation anywhere."""
    from .operators.benford import benford_audit

    return benford_audit(load(spark, sf, "events"), "value")


# ---------------------------------------------------------------------------
# Categorical mutual information (operators/mi.py)
# ---------------------------------------------------------------------------
@register(
    "mi_event_features",
    """
    WITH base AS (
        SELECT event_type AS a,
               LEAST(CAST(FLOOR(value / 100) AS BIGINT), 4) AS b
        FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
    j AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c_ab
          FROM base GROUP BY 1, 2),
    ma AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS c_a FROM base GROUP BY 1),
    mb AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c_b FROM base GROUP BY 1),
    cells AS (
        SELECT j.a, j.b, j.c_ab, ma.c_a, mb.c_b,
               CAST(FLOOR(1000000.0 * LN(CAST(j.c_ab * nn.n AS DOUBLE)
                                         / CAST(ma.c_a * mb.c_b AS DOUBLE)))
                    AS BIGINT) AS pmi
        FROM j JOIN ma ON ma.a = j.a JOIN mb ON mb.b = j.b CROSS JOIN nn
    ),
    mi AS (
        SELECT CAST(GREATEST(SUM(c_ab * pmi), 0) // (SELECT n FROM nn)
                    AS BIGINT) AS mi_micro,
               CAST(COUNT(*) AS BIGINT) AS cells
        FROM cells
    ),
    ha AS (
        SELECT CAST(SUM(c_a * CAST(FLOOR(1000000.0
                   * LN(CAST(nn.n AS DOUBLE) / CAST(c_a AS DOUBLE)))
                   AS BIGINT)) // (SELECT n FROM nn) AS BIGINT) AS h
        FROM ma CROSS JOIN nn
    ),
    hb AS (
        SELECT CAST(SUM(c_b * CAST(FLOOR(1000000.0
                   * LN(CAST(nn.n AS DOUBLE) / CAST(c_b AS DOUBLE)))
                   AS BIGINT)) // (SELECT n FROM nn) AS BIGINT) AS h
        FROM mb CROSS JOIN nn
    )
    SELECT (SELECT n FROM nn) AS n, mi.cells, mi.mi_micro,
           ha.h AS h_a_micro, hb.h AS h_b_micro,
           CASE WHEN LEAST(ha.h, hb.h) > 0
                THEN (mi.mi_micro * 1000000) // LEAST(ha.h, hb.h)
           END AS nmi_ppm
    FROM mi CROSS JOIN ha CROSS JOIN hb
    """,
)
def q_mi_event_features(spark: SparkSession, sf: str) -> DataFrame:
    """Mutual information between event_type and the value band
    (operators/mi.py::mutual_information): micro-nat MI + marginal
    entropies + normalized MI from exact BIGINT contingency counts,
    per-cell PMI quantized once (the pmi_collocations fixed-point
    discipline) so both engines agree integer-for-integer.  The
    feature-relevance readout a quality classifier's feature audit
    starts from."""
    from .operators.mi import mutual_information

    # filter NULL value BEFORE banding: F.least skips NULLs, so a NULL
    # value would otherwise land in band 4 instead of being excluded
    # like the oracle's WHERE value IS NOT NULL
    ev = (
        load(spark, sf, "events")
        .where(F.col("value").isNotNull())
        .select(
            F.col("event_type").alias("a"),
            F.least(
                F.floor(F.col("value") / 100).cast("long"),
                F.lit(4).cast("long"),
            ).alias("b"),
        )
    )
    return mutual_information(ev, "a", "b")


# ---------------------------------------------------------------------------
# Weighted exact quantiles (operators/quantiles.py::weighted_quantiles)
# ---------------------------------------------------------------------------
@register(
    "weighted_quantile_events",
    """
    WITH v AS (
        SELECT value AS v, user_id % 10 + 1 AS w
        FROM events WHERE value IS NOT NULL
    ),
    tw AS (SELECT CAST(SUM(w) AS BIGINT) AS W FROM v),
    dv AS (SELECT v, CAST(SUM(w) AS BIGINT) AS bw FROM v GROUP BY 1),
    cum AS (SELECT v, SUM(bw) OVER (ORDER BY v) AS cumw FROM dv),
    qs AS (SELECT unnest([500000, 950000]) AS q_ppm)
    SELECT CAST(q_ppm / 1000000.0 AS DOUBLE) AS quantile,
           MIN(v) AS value
    FROM cum CROSS JOIN tw CROSS JOIN qs
    WHERE cumw * 1000000 >= q_ppm * W
    GROUP BY 1
    """,
)
def q_weighted_quantile_events(spark: SparkSession, sf: str) -> DataFrame:
    """Weight-ranked exact p50/p95 of events.value, weights from the
    user bucket (operators/quantiles.py::weighted_quantiles): the
    smallest value whose cumulative WEIGHT reaches the ppm-exact
    target — "half the traffic", not "half the rows" — via the same
    bounded-memory range narrowing as exact_quantiles (small buckets /
    threshold force real recursion at gate scale).  Oracle replays the
    integer cross-multiplied cumulative-weight walk."""
    from .operators.quantiles import weighted_quantiles

    ev = load(spark, sf, "events").select(
        "value", (F.col("user_id") % 10 + 1).cast("long").alias("w")
    )
    return weighted_quantiles(
        ev, "value", "w", [0.5, 0.95], buckets=16, final_threshold=100
    )


# ---------------------------------------------------------------------------
# Streaming DDSketch maintenance (streaming/ddsketch.py)
# ---------------------------------------------------------------------------
def _stream_dd_oracle() -> str:
    bucket = (
        f"CAST(CEIL(ROUND(LN(value) / {_math.log(_DD_GAMMA)!r}, 9)) AS INT)"
    )
    est = f"ROUND(2.0 * POWER({_DD_GAMMA!r}, bucket) / {_DD_GAMMA + 1!r}, 4)"
    return f"""
    WITH sk AS (
        SELECT CAST(ts AS DATE) AS day, {bucket} AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events WHERE value > 0 GROUP BY 1, 2
    ),
    qs AS (SELECT unnest([0.5, 0.95]) AS q),
    cum AS (
        SELECT day, bucket, n,
               SUM(n) OVER (PARTITION BY day ORDER BY bucket) AS cum,
               SUM(n) OVER (PARTITION BY day) AS total
        FROM sk
    ),
    hit AS (
        SELECT day, q, MIN(bucket) AS bucket
        FROM cum CROSS JOIN qs
        WHERE cum >= CAST(FLOOR(1.0 + q * (total - 1)) AS BIGINT)
        GROUP BY 1, 2
    ),
    skall AS (SELECT bucket, SUM(n) AS n FROM sk GROUP BY 1),
    cumall AS (
        SELECT bucket, n, SUM(n) OVER (ORDER BY bucket) AS cum,
               SUM(n) OVER () AS total
        FROM skall
    ),
    hitall AS (
        SELECT q, MIN(bucket) AS bucket
        FROM cumall CROSS JOIN qs
        WHERE cum >= CAST(FLOOR(1.0 + q * (total - 1)) AS BIGINT)
        GROUP BY 1
    )
    SELECT CAST(day AS VARCHAR) AS scope, CAST(q AS DOUBLE) AS q,
           {est} AS est
    FROM hit
    UNION ALL
    SELECT 'all', CAST(q AS DOUBLE), {est} FROM hitall
    """


@register("streaming_ddsketch_quantiles", _stream_dd_oracle())
def q_streaming_ddsketch_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming-maintained DDSketch latency quantiles
    (streaming/ddsketch.py): micro-batches sketch their own rows,
    (day, bucket, n) partials MERGE into touched day partitions; per-day
    p50/p95 AND the global quantiles come from the maintained grid at
    read time (merge loses nothing — the DDSketch design property).
    Stream == batch: the oracle replays the full bucket math per day
    and globally."""
    import hashlib
    import os
    import shutil
    import tempfile

    from .streaming.ddsketch import read_ddsketch_quantiles, streaming_ddsketch

    schema = spark.read.parquet(f"{sf}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(f"{sf}/events.*")
        .withColumn("day", F.to_date("ts"))
    )
    name = "stream_gate_ddsketch"
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    out_path = os.path.join(
        tempfile.gettempdir(), f"spark_graft_{os.getuid()}_stream_dd_{tag}"
    )
    shutil.rmtree(out_path, ignore_errors=True)
    ckpt = tempfile.mkdtemp(prefix="ckpt_gate_dd_")
    try:
        query = streaming_ddsketch(
            stream, "day", "value", out_path, ckpt,
            alpha=_DD_ALPHA, query_name=name,
        )
        query.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    per_day = read_ddsketch_quantiles(
        spark, out_path, ["day"], [0.5, 0.95], alpha=_DD_ALPHA
    ).select(F.col("day").cast("string").alias("scope"), "q", "est")
    global_row = read_ddsketch_quantiles(
        spark, out_path, [], [0.5, 0.95], alpha=_DD_ALPHA
    ).select(F.lit("all").alias("scope"), "q", "est")
    return per_day.unionByName(global_row)


# ---------------------------------------------------------------------------
# Entity resolution end-to-end (linkage -> components -> canonical ids)
# ---------------------------------------------------------------------------
def _er_oracle() -> str:
    return f"""
    WITH RECURSIVE lk AS ({ORACLE_SQL["record_linkage_fs"]}),
    m AS (SELECT rec_a AS src, rec_b AS dst FROM lk WHERE band = 'match'),
    und AS (SELECT src, dst FROM m UNION ALL SELECT dst, src FROM m),
    reach AS (
        SELECT DISTINCT src AS id, src AS label FROM und
        UNION
        SELECT u.src, r.label FROM und u JOIN reach r ON r.id = u.dst
    ),
    comp AS (SELECT id, MIN(label) AS component FROM reach GROUP BY 1),
    recs AS (
        SELECT c_custkey * 2 AS rec_id FROM customer
        UNION ALL
        SELECT c_custkey * 2 + 1 FROM customer WHERE c_custkey % 10 = 0
    ),
    canon AS (
        SELECT r.rec_id, COALESCE(c.component, r.rec_id) AS canonical_id
        FROM recs r LEFT JOIN comp c ON c.id = r.rec_id
    ),
    sizes AS (
        SELECT canonical_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
        FROM canon GROUP BY 1
    )
    SELECT CAST(rec_id AS BIGINT) AS rec_id,
           CAST(canonical_id AS BIGINT) AS canonical_id, cluster_size
    FROM canon JOIN sizes USING (canonical_id)
    """


@register("entity_resolution_clusters", _er_oracle())
def q_entity_resolution_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Entity resolution end-to-end: Fellegi-Sunter match pairs (the
    record_linkage_fs gate verbatim) -> transitive components
    (dedup.near_dedup_components min-label propagation) -> canonical id
    per record with cluster sizes; records outside every match pair are
    their own canonical singleton.  The production dedupe-the-CRM loop,
    composed entirely from already-gated operators; the oracle chains
    the linkage SQL with a recursive reachability CTE."""
    from .operators.dedup import near_dedup_components

    lk = q_record_linkage_fs(spark, sf)
    pairs = lk.where(F.col("band") == "match").select(
        F.col("rec_a").alias("id_a"), F.col("rec_b").alias("id_b")
    )
    comp = near_dedup_components(pairs)
    cust = load(spark, sf, "customer").select("c_custkey")
    recs = cust.select((F.col("c_custkey") * 2).alias("rec_id")).unionByName(
        cust.where(F.col("c_custkey") % 10 == 0).select(
            (F.col("c_custkey") * 2 + 1).alias("rec_id")
        )
    )
    joined = recs.join(
        comp.withColumnRenamed("doc_id", "rec_id"), "rec_id", "left"
    ).select(
        "rec_id",
        F.coalesce("component", "rec_id").alias("canonical_id"),
    )
    sizes = joined.groupBy("canonical_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return joined.join(sizes, "canonical_id").select(
        "rec_id", "canonical_id", "cluster_size"
    )


# ---------------------------------------------------------------------------
# Pairwise association mining (operators/assoc.py::pair_associations)
# ---------------------------------------------------------------------------
@register(
    "assoc_item_pairs",
    """
    WITH bi AS (
        SELECT DISTINCT user_id AS basket,
               CAST(json_extract(props, '$.k') AS INT) % 20 AS item
        FROM events
        WHERE json_extract(props, '$.k') IS NOT NULL
    ), sizes AS (
        SELECT basket, COUNT(*) AS k FROM bi GROUP BY 1
    ), kept AS (
        SELECT bi.* FROM bi JOIN sizes USING (basket) WHERE sizes.k <= 100
    ), nb AS (
        SELECT CAST(COUNT(DISTINCT basket) AS BIGINT) AS n_baskets FROM kept
    ), items AS (
        SELECT item, CAST(COUNT(*) AS BIGINT) AS n_i FROM kept GROUP BY 1
    ), pairs AS (
        SELECT a.item AS item_a, b.item AS item_b,
               CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM kept a JOIN kept b
          ON a.basket = b.basket AND a.item < b.item
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    )
    SELECT item_a, item_b, n_ab, ia.n_i AS n_a, ib.n_i AS n_b,
           (n_ab * 1000000) // (ia.n_i + ib.n_i - n_ab) AS jaccard_ppm,
           (n_ab * 1000000) // ia.n_i AS confidence_ppm,
           (n_ab * nb.n_baskets * 1000000) // (ia.n_i * ib.n_i) AS lift_ppm
    FROM pairs
    JOIN items ia ON ia.item = item_a
    JOIN items ib ON ib.item = item_b
    CROSS JOIN nb
    """,
)
def q_assoc_item_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Market-basket association pairs (operators/assoc.py::
    pair_associations) over items parsed from the events JSON payload
    (k mod 20 buckets, baskets = users): exact-integer ppm jaccard /
    confidence / lift, oversized baskets dropped before pairing.  The
    oracle replays distinct, pairing, and the fixed-point arithmetic
    integer-for-integer."""
    from .operators.assoc import pair_associations

    ev = load(spark, sf, "events").select(
        "user_id",
        (F.get_json_object("props", "$.k").cast("int") % 20).alias("item"),
    )
    return pair_associations(
        ev, "user_id", "item", min_support=2, max_basket_size=100
    )


# ---------------------------------------------------------------------------
# Skew diagnosis (operators/partition.py::skew_report)
# ---------------------------------------------------------------------------
@register(
    "skew_report_events",
    """
    WITH c AS (
        SELECT event_type AS key, CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM events GROUP BY 1
    ), t AS (
        SELECT CAST(SUM(n_rows) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS n_keys
        FROM c
    ), h AS (SELECT * FROM c ORDER BY n_rows DESC, key LIMIT 5)
    SELECT key, n_rows, n_keys,
           (n_rows * 1000000) // total AS share_ppm,
           ((n_rows * 1000000) // total * n_keys) // 10000
               AS skew_ratio_x100,
           GREATEST(1, ((n_rows * 1000000) // total * n_keys + 999999)
                       // 1000000) AS rec_salts
    FROM h, t
    UNION ALL
    SELECT '(all)', total, n_keys, CAST(1000000 AS BIGINT),
           CAST(100 AS BIGINT), CAST(1 AS BIGINT)
    FROM t
    """,
)
def q_skew_report_events(spark: SparkSession, sf: str) -> DataFrame:
    """Pre-shuffle skew diagnosis (operators/partition.py::skew_report)
    on the event_type key: per-heavy-key exact ppm share, x100 skew
    ratio vs the uniform mean, and the recommended salt factor for
    salted_repartition/two_phase_agg — the report that decides the plan
    BEFORE the job runs.  Integer fixed-point throughout; oracle
    replays the arithmetic exactly."""
    from .operators.partition import skew_report

    ev = load(spark, sf, "events")
    return skew_report(ev, ["event_type"], top=5)


# ---------------------------------------------------------------------------
# Registered domain / eTLD+1 (operators/urls.py::registered_domain)
# ---------------------------------------------------------------------------
@register(
    "registered_domains",
    """
    WITH h AS (
        SELECT CASE event_id % 6
            WHEN 0 THEN 'WWW.Shop' || CAST(event_id % 50 AS VARCHAR) || '.co.uk'
            WHEN 1 THEN 'a.b.example' || CAST(event_id % 40 AS VARCHAR) || '.com'
            WHEN 2 THEN 'cdn' || CAST(event_id % 30 AS VARCHAR)
                        || '.example.org:8080'
            WHEN 3 THEN 'site' || CAST(event_id % 20 AS VARCHAR) || '.com.au'
            WHEN 4 THEN '192.168.' || CAST(event_id % 256 AS VARCHAR) || '.1'
            ELSE 'localhost'
        END AS host
        FROM events
    ), reg AS (
        SELECT CASE
            WHEN host LIKE 'WWW.Shop%'
                THEN 'shop' || string_split(lower(host), '.')[2][5:]
                     || '.co.uk'
            WHEN host LIKE 'a.b.example%'
                THEN 'example' || string_split(host, '.')[3][8:] || '.com'
            WHEN host LIKE 'cdn%' THEN 'example.org'
            WHEN host LIKE 'site%' THEN host
            WHEN host LIKE '192.168.%' THEN host
            ELSE 'localhost'
        END AS reg_domain
        FROM h
    )
    SELECT reg_domain, CAST(COUNT(*) AS BIGINT) AS n
    FROM reg GROUP BY 1
    """,
)
def q_registered_domains(spark: SparkSession, sf: str) -> DataFrame:
    """eTLD+1 extraction (operators/urls.py::registered_domain) over a
    closed-form host fixture covering every rule branch: two-level
    ccTLD suffixes (co.uk/com.au take three labels), plain TLDs take
    two, ports stripped, case folded, IPv4 literals and single-label
    hosts pass through.  The oracle rebuilds the expected registrable
    domain per fixture case WITHOUT running the rule, so the two meet
    only if each branch is right."""
    from .operators.urls import registered_domain

    ev = load(spark, sf, "events")
    e6 = F.col("event_id") % 6
    host = (
        F.when(e6 == 0, F.concat(F.lit("WWW.Shop"),
                                 (F.col("event_id") % 50).cast("string"),
                                 F.lit(".co.uk")))
        .when(e6 == 1, F.concat(F.lit("a.b.example"),
                                (F.col("event_id") % 40).cast("string"),
                                F.lit(".com")))
        .when(e6 == 2, F.concat(F.lit("cdn"),
                                (F.col("event_id") % 30).cast("string"),
                                F.lit(".example.org:8080")))
        .when(e6 == 3, F.concat(F.lit("site"),
                                (F.col("event_id") % 20).cast("string"),
                                F.lit(".com.au")))
        .when(e6 == 4, F.concat(F.lit("192.168."),
                                (F.col("event_id") % 256).cast("string"),
                                F.lit(".1")))
        .otherwise(F.lit("localhost"))
    )
    return (
        ev.select(registered_domain(host).alias("reg_domain"))
        .groupBy("reg_domain")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Quantile confidence interval (operators/quantile_ci.py::quantile_ci)
# ---------------------------------------------------------------------------
_QCI_Z = 1.959963984540054  # two-sided 95% z, pinned as a literal


@register(
    "quantile_ci_events",
    f"""
    WITH v AS (SELECT value AS v FROM events WHERE value IS NOT NULL),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
    ks AS (
        SELECT n,
               GREATEST(1, LEAST(n, CAST(FLOOR(
                   n*0.95 - {_QCI_Z!r}*SQRT(n*0.95*(1.0-0.95))
               ) AS BIGINT))) AS l,
               GREATEST(1, LEAST(n, CAST(CEIL(0.95*n) AS BIGINT))) AS k,
               GREATEST(1, LEAST(n, CAST(CEIL(
                   n*0.95 + {_QCI_Z!r}*SQRT(n*0.95*(1.0-0.95))
               ) AS BIGINT) + 1)) AS u
        FROM nn
    ), r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn FROM v)
    SELECT CAST(0.95 AS DOUBLE) AS q, ks.n AS n,
           ROUND((SELECT r.v FROM r WHERE r.rn = ks.l), 4) AS lo,
           ROUND((SELECT r.v FROM r WHERE r.rn = ks.k), 4) AS point,
           ROUND((SELECT r.v FROM r WHERE r.rn = ks.u), 4) AS hi
    FROM ks
    """,
)
def q_quantile_ci_events(spark: SparkSession, sf: str) -> DataFrame:
    """p95 of event value WITH its distribution-free order-statistic CI
    (operators/quantile_ci.py): lo/point/hi ranks from the binomial
    normal approximation (identical double expression tree in both
    engines), all three order statistics resolved in ONE shared
    bounded-memory exact_quantiles job — no global sort, no bootstrap
    resampling pass."""
    from .operators.quantile_ci import quantile_ci

    ev = load(spark, sf, "events")
    return quantile_ci(ev, "value", q=0.95, z=_QCI_Z)


# ---------------------------------------------------------------------------
# Multi-touch attribution (operators/attribution.py::attribute_conversions)
# ---------------------------------------------------------------------------
@register(
    "attribution_purchases",
    """
    WITH conv AS (
        SELECT user_id AS unit, ts AS conv_ts, event_id AS conv_id
        FROM events WHERE event_type = 'purchase'
    ), touch AS (
        SELECT user_id AS unit, ts AS touch_ts, event_id AS touch_id,
               event_type AS channel
        FROM events WHERE event_type IN ('view', 'click', 'signup')
    ), j AS (
        SELECT c.conv_id, t.touch_ts, t.touch_id, t.channel
        FROM conv c JOIN touch t ON t.unit = c.unit
         AND t.touch_ts < c.conv_ts
         AND t.touch_ts >= c.conv_ts - INTERVAL 172800 SECOND
    ), rk AS (
        SELECT j.*,
               ROW_NUMBER() OVER (PARTITION BY conv_id
                                  ORDER BY touch_ts, touch_id) AS rn_a,
               ROW_NUMBER() OVER (PARTITION BY conv_id
                                  ORDER BY touch_ts DESC, touch_id DESC)
                   AS rn_d,
               COUNT(*) OVER (PARTITION BY conv_id) AS n
        FROM j
    ), firsts AS (
        SELECT channel, CAST(COUNT(*) AS BIGINT) AS first_touch
        FROM rk WHERE rn_a = 1 GROUP BY 1
    ), lasts AS (
        SELECT channel, CAST(COUNT(*) AS BIGINT) AS last_touch
        FROM rk WHERE rn_d = 1 GROUP BY 1
    ), lin AS (
        SELECT channel,
               CAST(SUM(1000000 // n
                        + CASE WHEN rn_d = 1 THEN 1000000 % n ELSE 0 END)
                    AS BIGINT) AS linear_micro
        FROM rk GROUP BY 1
    ), chans AS (
        SELECT channel FROM firsts
        UNION SELECT channel FROM lasts
        UNION SELECT channel FROM lin
    ), direct AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS c FROM conv
        WHERE conv_id NOT IN (SELECT conv_id FROM j)
    )
    SELECT b.channel,
           COALESCE(f.first_touch, 0) AS first_touch,
           COALESCE(l.last_touch, 0) AS last_touch,
           COALESCE(li.linear_micro, 0) AS linear_micro
    FROM chans b
    LEFT JOIN firsts f USING (channel)
    LEFT JOIN lasts l USING (channel)
    LEFT JOIN lin li USING (channel)
    UNION ALL
    SELECT '(direct)', c, c, c * 1000000 FROM direct WHERE c > 0
    """,
)
def q_attribution_purchases(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-touch purchase attribution (operators/attribution.py):
    first/last/linear credit across view/click/signup channels within a
    48h lookback; linear credit in exact integer micro-units (last
    touch absorbs the remainder, so every conversion's split sums to
    exactly 1e6); windowless min/max(struct) firsts+lasts; no-touch
    conversions land in '(direct)'.  Oracle replays the join, both
    rank directions, and the integer split."""
    from .operators.attribution import attribute_conversions

    ev = load(spark, sf, "events")
    return attribute_conversions(
        ev, "user_id", "ts", "event_type", "event_id",
        conversion_type="purchase",
        touch_types=["view", "click", "signup"],
        lookback_s=172800,
    )


# ---------------------------------------------------------------------------
# Session path mining (operators/analytics.py::session_paths/top_paths)
# ---------------------------------------------------------------------------
def _session_paths_sql() -> str:
    return f"""
    WITH s AS ({_session_flags_sql(">")}),
    sess AS (
        SELECT event_id, user_id, ts,
               SUM(st) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) - 1 AS sid
        FROM s
    ), j AS (
        SELECT sess.user_id, sess.sid, sess.ts, sess.event_id, e.event_type,
               ROW_NUMBER() OVER (PARTITION BY sess.user_id, sess.sid
                                  ORDER BY sess.ts, sess.event_id) AS rn
        FROM sess JOIN events e ON e.event_id = sess.event_id
    ), paths AS (
        SELECT user_id, sid,
               string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        FROM j WHERE rn <= 4 GROUP BY 1, 2
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n
    FROM paths GROUP BY 1
    ORDER BY n DESC, path LIMIT 20
    """


@register("session_paths_events", _session_paths_sql())
def q_session_paths_events(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 user-journey paths (operators/analytics.py::session_paths
    + ::top_paths): 4h-gap sessions, ordered first-4-step paths, counts,
    skew-proof two-phase top-N with a total (n desc, path asc) order.
    The collected array is bounded by the session, not the user; the
    oracle replays session numbering, prefix truncation, and the
    ordered string_agg in SQL."""
    from .operators.analytics import session_paths, top_paths
    from .operators.sessions import sessionize

    ev = load(spark, sf, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    sess = sessionize(
        ev, ["user_id"], ts_col="ts", gap="4 hours", order_col="event_id"
    )
    per = session_paths(
        sess, ["user_id"], "session_id", "ts", "event_type", "event_id",
        max_steps=4,
    )
    return top_paths(per, n=20)


# ---------------------------------------------------------------------------
# JSON schema profiling + drift (operators/jsonprofile.py)
# ---------------------------------------------------------------------------
_D20 = 19742  # epoch-day of 2024-01-20, when the fixture's exp_id key ships


def _schema_drift_json(df: DataFrame) -> DataFrame:
    """Deterministic payload fixture shared by the batch and streaming
    schema-drift gates: four shapes by event_id % 4 plus an 'exp_id' key
    shipping on epoch-day _D20 — adds ``day`` and ``js`` columns."""
    out = df.withColumn(
        "day", F.floor(F.unix_timestamp(F.col("ts")) / F.lit(86400)).cast("long")
    )
    e4 = F.col("event_id") % 4
    js = F.concat(
        F.lit('{"k": '),
        (F.col("event_id") % 100).cast("string"),
        F.when(
            e4 == 0,
            F.concat(
                F.lit(', "meta": {"v": '),
                (F.col("user_id") % 10).cast("string"),
                F.lit("}"),
            ),
        )
        .when(e4 == 1, F.lit(', "tags": [1, 2]'))
        .when(
            e4 == 2,
            F.concat(
                F.lit(', "user": {"id": '),
                F.col("user_id").cast("string"),
                F.lit(', "geo": {"c": "x"}}'),
            ),
        )
        .otherwise(F.lit(', "note": "s"')),
        F.when(
            (F.col("day") >= _D20) & (F.col("event_id") % 2 == 0),
            F.lit(', "exp_id": 7'),
        ).otherwise(F.lit("")),
        F.lit("}"),
    )
    return out.withColumn("js", js)


@register(
    "json_schema_drift",
    f"""
    WITH base AS (
        SELECT event_id, user_id,
               CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day
        FROM events
    ), paths AS (
        SELECT day, 'k' AS path, 'scalar' AS jtype FROM base
        UNION ALL SELECT day, 'meta', 'object' FROM base WHERE event_id % 4 = 0
        UNION ALL SELECT day, 'meta.v', 'scalar' FROM base WHERE event_id % 4 = 0
        UNION ALL SELECT day, 'tags', 'array' FROM base WHERE event_id % 4 = 1
        UNION ALL SELECT day, 'user', 'object' FROM base WHERE event_id % 4 = 2
        UNION ALL SELECT day, 'user.id', 'scalar' FROM base WHERE event_id % 4 = 2
        UNION ALL SELECT day, 'user.geo', 'object' FROM base WHERE event_id % 4 = 2
        UNION ALL SELECT day, 'note', 'scalar' FROM base WHERE event_id % 4 = 3
        UNION ALL SELECT day, 'exp_id', 'scalar' FROM base
                  WHERE day >= {_D20} AND event_id % 2 = 0
    ), counts AS (
        SELECT day, path, jtype, CAST(COUNT(*) AS BIGINT) AS n
        FROM paths GROUP BY ALL
    ), fs AS (
        SELECT path, MIN(day) AS fd FROM counts GROUP BY 1
    )
    SELECT c.day, c.path, c.jtype, c.n, c.day = fs.fd AS is_new
    FROM counts c JOIN fs ON fs.path = c.path
    """,
)
def q_json_schema_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Observed-schema drift over structured-log payloads
    (operators/jsonprofile.py): deterministic per-row JSON built from
    the events fixture (four payload shapes, nested objects, and an
    'exp_id' key that ships on 2024-01-20), then REAL parsing — map
    re-parse + json_object_keys to depth 2, coarse
    object/array/scalar/null classes, per-day path counts, first-seen
    novelty flags.  The oracle computes the expected grid closed-form
    from the id rules without parsing, so the two meet only if every
    extraction branch is right."""
    from .operators.jsonprofile import json_schema_profile, schema_novelty

    ev = _schema_drift_json(load(spark, sf, "events"))
    prof = json_schema_profile(ev, "js", group_cols=["day"], max_depth=2)
    return schema_novelty(prof, "day")


@register("json_schema_drift_streaming", None)
def q_json_schema_drift_streaming(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming-maintained schema drift (streaming/schemadrift.py):
    micro-batches profile their own payloads and MERGE (day, path,
    jtype, n) partials into touched day partitions only; the drift view
    with first-seen flags is derived from the maintained grid at read
    time.  Stream == batch is the gate: the registry compares this
    row set against the batch `json_schema_drift` gate's oracle."""
    import hashlib
    import os
    import shutil
    import tempfile

    from .streaming.schemadrift import (
        read_schema_drift,
        streaming_schema_profile,
    )

    schema = spark.read.parquet(f"{sf}/events.parquet").schema
    stream = _schema_drift_json(
        spark.readStream.schema(schema).parquet(f"{sf}/events.*")
    )
    name = "stream_gate_schema_drift"
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    out_path = os.path.join(
        tempfile.gettempdir(), f"spark_graft_{os.getuid()}_stream_schema_{tag}"
    )
    shutil.rmtree(out_path, ignore_errors=True)
    ckpt = tempfile.mkdtemp(prefix="ckpt_gate_schema_")
    try:
        query = streaming_schema_profile(
            stream, "js", "day", out_path, ckpt, query_name=name
        )
        query.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return read_schema_drift(spark, out_path, "day").select(
        "day", "path", "jtype", "n", "is_new"
    )


ORACLE_SQL["json_schema_drift_streaming"] = ORACLE_SQL["json_schema_drift"]


# ---------------------------------------------------------------------------
# Kaplan-Meier survival (operators/survival.py::km_survival)
# ---------------------------------------------------------------------------
# ONE subjects contract shared by the KM and Nelson-Aalen gates — the
# endpoint seconds-truncation must match Spark's unix_timestamp exactly,
# and a second hand-maintained copy already drifted once (review catch).
_SURVIVAL_SUBJECTS_SQL = """
    SELECT CAST(user_id % 3 AS INT) AS cohort,
           (CAST(FLOOR(epoch(MAX(ts))) AS BIGINT)
            - CAST(FLOOR(epoch(MIN(ts))) AS BIGINT)) // 3600 AS dur_h,
           MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS ev
    FROM events GROUP BY user_id
"""


def _survival_subjects(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events")
    return ev.groupBy("user_id").agg(
        F.floor(
            (
                F.unix_timestamp(F.max("ts"))
                - F.unix_timestamp(F.min("ts"))
            )
            / F.lit(3600)
        )
        .cast("long")
        .alias("dur_h"),
        F.max(
            (F.col("event_type") == "error").cast("int")
        ).alias("ev"),
    ).select(
        (F.col("user_id") % 3).cast("int").alias("cohort"), "dur_h", "ev"
    )


def _km_oracle() -> str:
    from .operators.survival import km_oracle_sql

    return km_oracle_sql(_SURVIVAL_SUBJECTS_SQL, ["cohort"], "dur_h", "ev")


@register("km_survival_cohorts", _km_oracle())
def q_km_survival_cohorts(spark: SparkSession, sf: str) -> DataFrame:
    """Kaplan-Meier time-to-first-error curves per user cohort
    (operators/survival.py::km_survival): subjects are users, duration
    is observed activity span in hours, users with no error are
    right-censored at their span end.  Exact-integer micro-unit
    product-limit trajectory; the oracle replays every step with `//`
    through a recursive CTE — identical numbers, no float boundary."""
    from .operators.survival import km_survival

    return km_survival(
        _survival_subjects(spark, sf), ["cohort"], "dur_h", "ev"
    )


# ---------------------------------------------------------------------------
# Personalized PageRank (operators/graph.py::personalized_pagerank)
# ---------------------------------------------------------------------------
def _ppr_sql(
    seeds: list[str], iterations: int = 3, damping_pct: int = 85
) -> str:
    seed_list = ", ".join(f"'{s}'" for s in seeds)
    n_s = len(seeds)
    tp = f"""CASE WHEN n.node IN ({seed_list})
                  THEN ((1000000 * {100 - damping_pct}) // 100) // {n_s}
                  ELSE 0 END"""
    ctes = [
        """ordered AS (
        SELECT event_type AS dst,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
        FROM events
    )""",
        """edges AS (
        SELECT src, dst, COUNT(*) AS weight FROM ordered
        WHERE src IS NOT NULL GROUP BY 1, 2
    )""",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "outw AS (SELECT src, SUM(weight) AS out_w FROM edges GROUP BY 1)",
        f"""r0 AS (
        SELECT node, CASE WHEN node IN ({seed_list})
                          THEN 1000000 // {n_s} ELSE 0 END AS rank_micro
        FROM nodes
    )""",
    ]
    for t in range(1, iterations + 1):
        ctes.append(
            f"""c{t} AS (
        SELECT e.dst AS node, SUM((r.rank_micro * e.weight) // o.out_w) AS c_sum
        FROM edges e JOIN outw o ON o.src = e.src JOIN r{t - 1} r ON r.node = e.src
        GROUP BY 1
    )"""
        )
        ctes.append(
            f"""r{t} AS (
        SELECT n.node,
               {tp} + ({damping_pct} * COALESCE(c.c_sum, 0)) // 100
                   AS rank_micro
        FROM nodes n LEFT JOIN c{t} c ON c.node = n.node
    )"""
        )
    body = ",\n    ".join(ctes)
    return (
        f"WITH {body} SELECT node, CAST(rank_micro AS BIGINT) AS rank_micro "
        f"FROM r{iterations}"
    )


@register("ppr_event_transitions", _ppr_sql(["purchase"]))
def q_ppr_event_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """Personalized PageRank seeded at 'purchase' over the per-user
    event-type transition graph (operators/graph.py::
    personalized_pagerank): teleport returns to the seed, so ranks
    measure proximity-to-purchase (the related-entities / TrustRank
    form), not global centrality.  Integer micro-unit trajectory,
    oracle replays all 3 rounds with `//` — identical numbers."""
    from .operators.graph import personalized_pagerank, transition_edges

    edges = transition_edges(
        load(spark, sf, "events"), "user_id", "ts", "event_type", "event_id"
    )
    return personalized_pagerank(
        edges, ["purchase"], damping_pct=85, iterations=3
    )


# ---------------------------------------------------------------------------
# int8 scalar quantization top-k (operators/similarity.py::int8_topk)
# ---------------------------------------------------------------------------
_INT8_CODE_SQL = (
    "CASE WHEN x < 0 THEN -CAST(FLOOR(ABS(x)*127.0/{m} + 0.5) AS BIGINT) "
    "ELSE CAST(FLOOR(ABS(x)*127.0/{m} + 0.5) AS BIGINT) END"
)


@register(
    "embedding_int8_topk",
    f"""
    WITH q AS (
        SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ), qm AS (
        SELECT qv,
               GREATEST(list_max(list_transform(qv, x -> ABS(x))), 1e-30)
                   AS mq
        FROM q
    ), qc AS (
        SELECT mq,
               list_transform(qv, x -> {_INT8_CODE_SQL.format(m="mq")})
                   AS qcodes
        FROM qm
    ), dm AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               GREATEST(list_max(list_transform(embedding::DOUBLE[],
                                                x -> ABS(x))), 1e-30) AS m
        FROM embeddings
    ), dc AS (
        SELECT vec_id, m,
               list_transform(v, x -> {_INT8_CODE_SQL.format(m="m")})
                   AS codes
        FROM dm
    ), sc AS (
        SELECT vec_id,
               (CAST(list_inner_product(codes, qcodes) AS BIGINT)
                * (m/127.0)) * (mq/127.0) AS iscore
        FROM dc CROSS JOIN qc
    )
    SELECT vec_id, ROUND(iscore, 4) AS iscore
    FROM sc ORDER BY sc.iscore DESC, vec_id LIMIT 10
    """,
)
def q_embedding_int8_topk(spark: SparkSession, sf: str) -> DataFrame:
    """int8 scalar-quantization top-k (operators/similarity.py::
    int8_topk) — the 4x-memory compression rung under PQ on the ANN
    ladder: per-vector symmetric codes, exact integer dot, two double
    scale factors, deterministic (score, id) k-boundary.  The oracle
    replays codes and scores expression-for-expression, so the match is
    exact, not approximate."""
    from .operators.similarity import int8_topk

    emb = load(spark, sf, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return int8_topk(emb, [float(x) for x in qvec], k=10)


# ---------------------------------------------------------------------------
# Split-conformal prediction band (operators/conformal.py::split_conformal)
# ---------------------------------------------------------------------------
@register(
    "conformal_value_band",
    """
    WITH base AS (
        SELECT event_id, event_type,
               CAST(FLOOR(value * 100) AS BIGINT) AS cents
        FROM events
    ), pred AS (
        SELECT event_type, CAST(SUM(cents) AS BIGINT) // COUNT(*) AS p
        FROM base GROUP BY 1
    ), scored AS (
        SELECT b.event_id, ABS(b.cents - p.p) AS resid,
               ('0x' || substr(md5(CAST(b.event_id AS VARCHAR)
                                   || ':conf:v1'), 1, 15))::BIGINT % 100
                   AS h
        FROM base b JOIN pred p USING (event_type)
    ), calib AS (SELECT * FROM scored WHERE h < 50),
    tst AS (SELECT * FROM scored WHERE h >= 50),
    kk AS (
        SELECT COUNT(*) AS n,
               LEAST(COUNT(*),
                     CAST(CEIL((COUNT(*) + 1) * 0.9) AS BIGINT)) AS k
        FROM calib
    ), thr AS (
        SELECT MIN(resid) AS t FROM (
            SELECT resid, ROW_NUMBER() OVER (ORDER BY resid) AS rn
            FROM calib
        ) WHERE rn >= (SELECT k FROM kk)
    )
    SELECT (SELECT n FROM kk) AS n_calib,
           (SELECT k FROM kk) AS k,
           CAST((SELECT t FROM thr) AS BIGINT) AS threshold,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN resid <= (SELECT t FROM thr)
                         THEN 1 ELSE 0 END) AS BIGINT) AS covered,
           ROUND(CAST(SUM(CASE WHEN resid <= (SELECT t FROM thr)
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 4) AS coverage
    FROM tst
    """,
)
def q_conformal_value_band(spark: SparkSession, sf: str) -> DataFrame:
    """Split-conformal band (operators/conformal.py::split_conformal)
    around a per-event-type integer-cents mean predictor: exact k-th
    order-statistic threshold on the md5-split calibration slice
    (k = ceil((n+1)·0.9), selection via bounded-memory exact_quantiles,
    no global sort) + realized coverage on the disjoint test slice.
    Integer residuals end-to-end, so both engines agree
    integer-for-integer."""
    from .operators.conformal import split_conformal

    ev = load(spark, sf, "events")
    base = ev.select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    pred = base.groupBy("event_type").agg(
        F.expr("sum(cents) div count(*)").alias("p")
    )
    scored = base.join(F.broadcast(pred), "event_type")
    return split_conformal(
        scored, "event_id", "p", "cents", alpha=0.1, calib_pct=50, seed="v1"
    )


# ---------------------------------------------------------------------------
# BFS crawl depth from seed hosts (operators/webgraph.py::bfs_depths)
# ---------------------------------------------------------------------------
def _bfs_oracle() -> str:
    return f"""
    WITH RECURSIVE edges AS (
        SELECT src_host, dst_host, n_links
        FROM ({ORACLE_SQL["webgraph_host_edges"]}) t
    ), seeds AS (
        SELECT src_host AS node
        FROM (
            SELECT src_host, SUM(n_links) AS s FROM edges
            GROUP BY 1 ORDER BY s DESC, src_host LIMIT 2
        )
    ), walk AS (
        SELECT node, 0 AS d FROM seeds
        UNION
        SELECT e.dst_host, w.d + 1
        FROM walk w JOIN edges e ON e.src_host = w.node
        WHERE w.d < 8
    )
    SELECT node, CAST(MIN(d) AS BIGINT) AS dist FROM walk GROUP BY 1
    """


@register("webgraph_bfs_depth", _bfs_oracle())
def q_webgraph_bfs_depth(spark: SparkSession, sf: str) -> DataFrame:
    """Min-hop distance from the two highest-out-volume seed hosts over
    the extracted host graph (operators/webgraph.py::bfs_depths) — the
    TrustRank-style seed-distance feature and the crawl-frontier depth.
    Frontier-expansion BFS with per-round localCheckpoint + early stop;
    the oracle replays min-distance with a recursive CTE under the same
    hop cap, so truncation semantics match exactly."""
    from .operators.webgraph import bfs_depths, host_link_edges
    from .sources.pages import generate_linked_pages

    edges = host_link_edges(generate_linked_pages(spark, 4000, replayable=True))
    seeds = (
        edges.groupBy("src_host")
        .agg(F.sum("n_links").alias("s"))
        .orderBy(F.desc("s"), F.asc("src_host"))
        .limit(2)
        .select(F.col("src_host").alias("node"))
    )
    return bfs_depths(edges, seeds, max_rounds=8)


# ---------------------------------------------------------------------------
# Holt linear-trend forecast (operators/forecast.py::holt_forecast)
# ---------------------------------------------------------------------------
def _holt_oracle() -> str:
    from .operators.forecast import holt_oracle_sql

    series = """
        SELECT event_type,
               (CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600) AS hr,
               CAST(COUNT(*) AS DOUBLE) AS y
        FROM events GROUP BY 1, 2
    """
    return holt_oracle_sql(
        series, ["event_type"], "hr", "y", alpha=0.5, beta=0.25, horizon=12
    )


@register("forecast_holt_hourly", _holt_oracle())
def q_forecast_holt_hourly(spark: SparkSession, sf: str) -> DataFrame:
    """Holt linear-trend forecast (operators/forecast.py::holt_forecast)
    over per-event-type hourly counts: one-step-ahead fit for every
    observed hour plus a 12-hour forecast past the series end.  The
    recurrence runs per key on the AGGREGATED series (hours, not
    events); the oracle replays the identical double expression tree
    with a DuckDB WITH RECURSIVE, so level/trend/yhat match exactly."""
    from .operators.forecast import holt_forecast

    ev = load(spark, sf, "events")
    hourly = ev.groupBy(
        "event_type",
        F.floor(F.unix_timestamp(F.col("ts")) / F.lit(3600))
        .cast("long")
        .alias("hr"),
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    return holt_forecast(
        hourly, ["event_type"], "hr", "y",
        alpha=0.5, beta=0.25, horizon=12,
    )


# ---------------------------------------------------------------------------
# Embedding-space drift (operators/drift.py::embedding_drift)
# ---------------------------------------------------------------------------
def _embedding_drift_oracle() -> str:
    from .operators.drift import embedding_drift_oracle_sql

    return embedding_drift_oracle_sql(
        "SELECT embedding FROM embeddings WHERE vec_id % 2 = 0",
        "SELECT embedding FROM embeddings WHERE vec_id % 2 = 1",
    )


@register("embedding_drift_halves", _embedding_drift_oracle())
def q_embedding_drift_halves(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-space drift readout between the two corpus halves
    (operators/drift.py::embedding_drift): micro-quantized per-dim
    BIGINT centroid sums, integer dot/norm arithmetic, one shared
    double chain for the centroid cosine plus an exact integer
    squared-L2 shift — the monitor that catches an embedding-model
    swap before the ANN index quality decays."""
    from .operators.drift import embedding_drift

    emb = load(spark, sf, "embeddings")
    return embedding_drift(
        emb.where(F.col("vec_id") % 2 == 0),
        emb.where(F.col("vec_id") % 2 == 1),
    )


# ---------------------------------------------------------------------------
# Interval gap filling (operators/resample.py)
# ---------------------------------------------------------------------------
def _fill_oracle() -> str:
    from .operators.resample import fill_intervals_oracle_sql

    return fill_intervals_oracle_sql(
        """SELECT event_type,
                  CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS hr,
                  CAST(COUNT(*) AS BIGINT) AS y
           FROM events GROUP BY 1, 2""",
        ["event_type"], "hr", "y", step=1, method="linear",
    )


@register("fill_intervals_hourly", _fill_oracle())
def q_fill_intervals_hourly(spark: SparkSession, sf: str) -> DataFrame:
    """Linear gap filling of per-event-type hourly counts (operators/
    resample.py::fill_intervals): every missing hour between a key's
    first and last observation becomes an interpolated row with a
    ``filled`` flag — the regularizer the position-indexed recurrences
    (Holt, Holt-Winters, Kleinberg) assume.  Key-partitioned IGNORE
    NULLS windows; the oracle replays the identical grid and
    interpolation expression."""
    from .operators.resample import fill_intervals

    ev = load(spark, sf, "events")
    hourly = ev.groupBy(
        "event_type",
        F.floor(F.unix_timestamp(F.col("ts")) / F.lit(3600))
        .cast("long")
        .alias("hr"),
    ).agg(F.count(F.lit(1)).alias("y"))
    return fill_intervals(
        hourly, ["event_type"], "hr", "y", step=1, method="linear"
    )


# ---------------------------------------------------------------------------
# DBSCAN over embedding near-pairs (operators/dbscan.py)
# ---------------------------------------------------------------------------
def _dbscan_replay_sql(pair_source_ctes: str) -> str:
    """The pinned DBSCAN replay (degree -> core, recursive core
    reachability, min-rule borders, noise NULL) over any pair-source CTE
    chain ending in ``p(id_a, id_b)``.  SHARED by the all-pairs and
    LSH-blocked gates so the replay semantics can never drift apart."""
    return f"""
    WITH RECURSIVE {pair_source_ctes}, und AS (
        SELECT id_a AS s, id_b AS d FROM p
        UNION ALL SELECT id_b, id_a FROM p
    ), deg AS (
        SELECT s, COUNT(*) AS deg FROM und GROUP BY 1
    ), core AS (
        SELECT s AS id FROM deg WHERE deg >= 2
    ), ce AS (
        SELECT u.s, u.d FROM und u
        JOIN core c1 ON c1.id = u.s JOIN core c2 ON c2.id = u.d
    ), r AS (
        SELECT id, id AS label FROM core
        UNION
        SELECT ce.d AS id, r.label FROM r JOIN ce ON ce.s = r.id
    ), comp AS (
        SELECT id, MIN(label) AS cluster FROM r GROUP BY 1
    ), borders AS (
        SELECT u.s AS id, MIN(c.cluster) AS cluster
        FROM und u JOIN comp c ON c.id = u.d
        WHERE u.s NOT IN (SELECT id FROM core)
        GROUP BY 1
    )
    SELECT e.vec_id AS id,
           CASE WHEN comp.id IS NOT NULL THEN 'core'
                WHEN b.id IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           COALESCE(comp.cluster, b.cluster) AS cluster
    FROM e LEFT JOIN comp ON comp.id = e.vec_id
           LEFT JOIN borders b ON b.id = e.vec_id
    """


@register(
    "dbscan_embeddings",
    _dbscan_replay_sql("""e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), p AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE ROUND(list_cosine_similarity(a.v, b.v), 4) >= 0.4
    )"""),
)
def q_dbscan_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """DBSCAN topic islands over the embedding corpus (operators/
    dbscan.py::dbscan_from_pairs, min_pts=3) fed by the exact cosine
    near-pair baseline (threshold 0.4; the LSH-blocked pair list is
    the drop-in scale path).  Core/border/noise roles with min-id
    clusters; the oracle recomputes everything independently — degree
    counts, recursive core reachability, min-rule border attachment."""
    from .operators.dbscan import dbscan_from_pairs
    from .operators.similarity import embedding_near_pairs

    emb = load(spark, sf, "embeddings")
    pairs = embedding_near_pairs(
        emb, threshold=0.4, allow_all_pairs=True
    ).select("id_a", "id_b")
    return dbscan_from_pairs(
        emb.select(F.col("vec_id").alias("id")), pairs, min_pts=3
    )


def _dbscan_lsh_oracle_sql() -> str:
    """Same recursive DBSCAN replay as ``dbscan_embeddings``, but the
    pair CTE is restricted to equal md5-hyperplane LSH buckets — the
    oracle recomputes the identical blocked pair list (4 planes, bit p
    set iff dot > 0), so the gate verifies the PRODUCTION pair source,
    not the quadratic baseline."""
    from .operators.similarity import md5_plane_signs

    planes = md5_plane_signs(4, 64)
    cases = "\n             + ".join(
        f"(CASE WHEN list_dot_product(v, [{', '.join(str(x) for x in planes[p])}]) > 0"
        f" THEN {1 << p} ELSE 0 END)"
        for p in range(4)
    )
    return _dbscan_replay_sql(f"""e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), bk AS (
        SELECT vec_id, v,
             {cases} AS bucket
        FROM e
    ), p AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM bk a JOIN bk b
          ON a.vec_id < b.vec_id AND a.bucket = b.bucket
        WHERE ROUND(list_cosine_similarity(a.v, b.v), 4) >= 0.4
    )""")


@register("dbscan_embeddings_lsh", _dbscan_lsh_oracle_sql())
def q_dbscan_embeddings_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """The PRODUCTION DBSCAN compose: ``dbscan_from_pairs`` fed by the
    LSH-BLOCKED pair source (operators/similarity.py::
    embedding_near_pairs with ``block_planes`` = 4 md5 hyperplanes) —
    the per-bucket equi-join replaces the all-pairs cross join, so the
    pair stage is subquadratic (shuffle on bucket id; block cost =
    sum of per-bucket squares, not corpus squared).  Plane count is the
    scale knob — buckets double per plane, so a 100x corpus adds ~7
    planes to hold block sizes constant (at the standard recall trade);
    4 planes here match the registered md5-plane oracle family.
    The all-pairs twin
    ``dbscan_embeddings`` stays registered as the sf0.01 exactness
    baseline; THIS compose is the one to run — and bench — at scale.
    The oracle recomputes the same bucket assignment and blocked pair
    list, then replays degree/core/border labeling recursively."""
    from .operators.dbscan import dbscan_from_pairs
    from .operators.similarity import embedding_near_pairs, md5_plane_signs

    emb = load(spark, sf, "embeddings")
    pairs = embedding_near_pairs(
        emb, threshold=0.4, block_planes=md5_plane_signs(4, 64)
    ).select("id_a", "id_b")
    return dbscan_from_pairs(
        emb.select(F.col("vec_id").alias("id")), pairs, min_pts=3
    )


# ---------------------------------------------------------------------------
# Out-of-fold target encoding (operators/encoding.py)
# ---------------------------------------------------------------------------
def _target_encode_oracle() -> str:
    from .operators.encoding import target_encode_oracle_sql

    return target_encode_oracle_sql(
        """SELECT doc_id, source,
                  CASE WHEN n_chars > 1000 THEN 1 ELSE 0 END AS y
           FROM documents""",
        "source", "y", "doc_id", m=20, folds=5,
    )


@register("target_encode_sources", _target_encode_oracle())
def q_target_encode_sources(spark: SparkSession, sf: str) -> DataFrame:
    """Out-of-fold m-estimate target encoding of document source
    against a long-document label (operators/encoding.py::
    target_encode): md5 fold assignment, exact ppm arithmetic, a
    category's own fold excluded from its feature — the leakage guard
    a quality classifier's categorical features need."""
    from .operators.encoding import target_encode

    docs = load(spark, sf, "documents").select(
        "doc_id", "source",
        F.when(F.col("n_chars") > 1000, 1).otherwise(0).alias("y"),
    )
    return target_encode(docs, "source", "y", "doc_id", m=20, folds=5)


# ---------------------------------------------------------------------------
# Theil-Sen robust trend (operators/robustfit.py)
# ---------------------------------------------------------------------------
def _theil_sen_oracle() -> str:
    from .operators.robustfit import theil_sen_oracle_sql

    return theil_sen_oracle_sql(
        """SELECT event_type,
                  CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS hr,
                  CAST(COUNT(*) AS BIGINT) AS y
           FROM events GROUP BY 1, 2""",
        ["event_type"], "hr", "y",
    )


@register("theil_sen_hourly", _theil_sen_oracle())
def q_theil_sen_hourly(spark: SparkSession, sf: str) -> DataFrame:
    """Theil-Sen robust hourly trend per event type (operators/
    robustfit.py::theil_sen): lower-median of all pairwise slopes +
    residual-median intercept — order statistics of exactly-computed
    doubles, replayed in the oracle by rank selection over the
    identical pair join."""
    from .operators.robustfit import theil_sen

    ev = load(spark, sf, "events")
    hourly = ev.groupBy(
        "event_type",
        F.floor(F.unix_timestamp(F.col("ts")) / F.lit(3600))
        .cast("long")
        .alias("hr"),
    ).agg(F.count(F.lit(1)).alias("y"))
    return theil_sen(hourly, ["event_type"], "hr", "y")


# ---------------------------------------------------------------------------
# Category blocklist matching (operators/blocklist.py)
# ---------------------------------------------------------------------------
_BLOCKLIST_CATS = {
    "perf": ["slow", "fast"],
    "exec": ["merge batch", "scan"],
    "sql": ["group", "order"],
}


def _blocklist_oracle() -> str:
    from .operators.blocklist import category_pattern

    parts = []
    for name, phrases in sorted(_BLOCKLIST_CATS.items()):
        pat = category_pattern(phrases).replace("'", "''")
        parts.append(
            f"""SELECT doc_id, '{name}' AS category,
                CAST(len(regexp_extract_all(lower(text), '{pat}'))
                     AS BIGINT) AS n_hits
                FROM documents"""
        )
    inner = " UNION ALL ".join(parts)
    return f"SELECT * FROM ({inner}) u WHERE n_hits > 0"


@register("blocklist_category_hits", _blocklist_oracle())
def q_blocklist_category_hits(spark: SparkSession, sf: str) -> DataFrame:
    """UT1-style category blocklist hits over the documents corpus
    (operators/blocklist.py::blocklist_matches): one word-boundary
    longest-first alternation per category, counted as non-overlapping
    matches in a single scan-fused pass — regexp_count on the Spark
    side, len(regexp_extract_all) in the oracle, identical patterns
    via the shared builder."""
    from .operators.blocklist import blocklist_matches

    return blocklist_matches(
        load(spark, sf, "documents"), "doc_id", "text", _BLOCKLIST_CATS
    )


# ---------------------------------------------------------------------------
# Kleinberg burst detection (operators/burst.py)
# ---------------------------------------------------------------------------
def _burst_oracle() -> str:
    from .operators.burst import kleinberg_oracle_sql

    return kleinberg_oracle_sql(
        """SELECT event_type,
                  CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS hr,
                  CAST(COUNT(*) AS BIGINT) AS y
           FROM events GROUP BY 1, 2""",
        ["event_type"], "hr", "y", s=3.0, gamma=1.0,
    )


@register("burst_detection_hourly", _burst_oracle())
def q_burst_detection_hourly(spark: SparkSession, sf: str) -> DataFrame:
    """Two-state Kleinberg burst segmentation (operators/burst.py::
    kleinberg_bursts) of per-event-type hourly counts: integer
    micro-nat Viterbi with pinned tie-breaks over Poisson emission
    costs; the DuckDB WITH RECURSIVE replays the DP carrying the two
    alive state-path LISTs, so every per-bin state matches exactly."""
    from .operators.burst import kleinberg_bursts

    ev = load(spark, sf, "events")
    hourly = ev.groupBy(
        "event_type",
        F.floor(F.unix_timestamp(F.col("ts")) / F.lit(3600))
        .cast("long")
        .alias("hr"),
    ).agg(F.count(F.lit(1)).alias("y"))
    return kleinberg_bursts(
        hourly, ["event_type"], "hr", "y", s=3.0, gamma=1.0
    )


@register(
    "burstiness_index_hourly",
    """
    WITH m AS (
        SELECT event_type AS k,
               CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS hr,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), agg AS (
        SELECT k,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(c) AS BIGINT) AS total,
               CAST(SUM(c * c) AS BIGINT) AS sumsq
        FROM m GROUP BY 1
    )
    SELECT k, n, total, sumsq,
           CAST(n * sumsq - total * total AS BIGINT) AS fano_num,
           ROUND((n * sumsq - total * total) / (n * total), 4) AS fano,
           ROUND((n * sumsq - total * total) / (total * total), 4) AS cv2
    FROM agg WHERE total > 0
    """,
)
def q_burstiness_index_hourly(spark: SparkSession, sf: str) -> DataFrame:
    """Fano factor + CV² of per-type hourly counts (operators/burst.py::
    burstiness_index) — classifies Poisson-like vs clumped vs clocked
    traffic before Kleinberg localizes bursts; exact BIGINT moments,
    the oracle replays all three."""
    from .operators.burst import burstiness_index

    ev = load(spark, sf, "events")
    hourly = ev.groupBy(
        F.col("event_type").alias("k"),
        F.floor(F.unix_timestamp(F.col("ts")) / F.lit(3600))
        .cast("long")
        .alias("hr"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    return burstiness_index(hourly, ["k"], "c")


# ---------------------------------------------------------------------------
# Perceptual image hashing (operators/imagehash.py)
# ---------------------------------------------------------------------------
def _dhash_cells_sql() -> str:
    """Closed-form dHash replay: the oracle recomputes the integer
    grayscale, the 8x9 block sums, and every comparison bit from the
    generator's pixel formula — it never sees a byte."""
    gray = (
        "(299*((id + 3*r + 5*c) % 256) + 587*((id + 3*r + 5*c + 11) % 256)"
        " + 114*((id + 3*r + 5*c + 22) % 256)) // 1000"
    )
    cell = f"""
        list_transform(range(0, 8), i ->
          list_transform(range(0, 9), j -> {{
            's': list_sum(flatten(list_transform(
                 range((i*h)//8, greatest(((i+1)*h)//8, (i*h)//8 + 1)), r ->
                 list_transform(
                   range((j*w)//9, greatest(((j+1)*w)//9, (j*w)//9 + 1)), c ->
                   {gray})))),
            'n': (greatest(((i+1)*h)//8, (i*h)//8 + 1) - (i*h)//8)
               * (greatest(((j+1)*w)//9, (j*w)//9 + 1) - (j*w)//9)
          }}))"""
    dcols = ",\n".join(
        f"""  CAST(list_sum(flatten(list_transform(range(0, 2), ii ->
      list_transform(range(0, 8), j ->
        CASE WHEN g[{2 * t}+ii+1][j+1].s * g[{2 * t}+ii+1][j+2].n
                  > g[{2 * t}+ii+1][j+2].s * g[{2 * t}+ii+1][j+1].n
             THEN (1 << (ii*8 + j)) ELSE 0 END)))) AS INT) AS d{t}"""
        for t in range(4)
    )
    return f"""
    WITH dims AS (
        SELECT range AS id, 8 + range % 5 AS h, 8 + range % 7 AS w
        FROM range(300) WHERE range % 3 = 0
    ), cells AS (
        SELECT id, h, w, {cell} AS g FROM dims
    ), hashes AS (
    SELECT id AS media_id, CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
    {dcols}
    FROM cells
    )"""


def _video_dhash_sql() -> str:
    """Closed-form per-frame dHash replay for the RAWV videos: the
    frame pixel formula is (id + 3r + 5c + 11ch + 17*fi) % 256."""
    gray = (
        "(299*((id + 3*r + 5*c + 17*fi) % 256)"
        " + 587*((id + 3*r + 5*c + 11 + 17*fi) % 256)"
        " + 114*((id + 3*r + 5*c + 22 + 17*fi) % 256)) // 1000"
    )
    cell = f"""
        list_transform(range(0, 8), i ->
          list_transform(range(0, 9), j -> {{
            's': list_sum(flatten(list_transform(
                 range((i*h)//8, greatest(((i+1)*h)//8, (i*h)//8 + 1)), r ->
                 list_transform(
                   range((j*w)//9, greatest(((j+1)*w)//9, (j*w)//9 + 1)), c ->
                   {gray})))),
            'n': (greatest(((i+1)*h)//8, (i*h)//8 + 1) - (i*h)//8)
               * (greatest(((j+1)*w)//9, (j*w)//9 + 1) - (j*w)//9)
          }}))"""
    dcols = ",\n".join(
        f"""  CAST(list_sum(flatten(list_transform(range(0, 2), ii ->
      list_transform(range(0, 8), j ->
        CASE WHEN g[{2 * t}+ii+1][j+1].s * g[{2 * t}+ii+1][j+2].n
                  > g[{2 * t}+ii+1][j+2].s * g[{2 * t}+ii+1][j+1].n
             THEN (1 << (ii*8 + j)) ELSE 0 END)))) AS INT) AS d{t}"""
        for t in range(4)
    )
    return f"""
    WITH vdims AS (
        SELECT range AS id, 8 + range % 5 AS h, 8 + range % 7 AS w,
               2 + range % 3 AS f
        FROM range(300) WHERE range % 3 = 2
    ), vframes AS (
        SELECT id, h, w, f, unnest(range(0, f)) AS fi FROM vdims
    ), vcells AS (
        SELECT id, h, w, f, fi, {cell} AS g FROM vframes
    ), vhashes AS (
    SELECT id AS media_id, CAST(fi AS BIGINT) AS frame_idx,
           CAST(f AS BIGINT) AS n_frames,
    {dcols}
    FROM vcells
    )"""


@register(
    "multimodal_video_dhash",
    _video_dhash_sql() + " SELECT * FROM vhashes",
)
def q_multimodal_video_dhash(spark: SparkSession, sf: str) -> DataFrame:
    """Per-frame dHash over real decoded RAWV payloads
    (operators/imagehash.py::video_frame_dhash): the oracle replays
    every frame's hash bits from the closed-form pixel formula
    including the per-frame +17*frame_idx shift."""
    from .operators.imagehash import video_frame_dhash
    from .operators.multimodal import generate_real_media

    vids = generate_real_media(spark, 300).where(
        F.col("mime") == "video/rawv"
    )
    return video_frame_dhash(vids)


@register(
    "video_near_dup",
    _video_dhash_sql()
    + """
    , u AS (
        SELECT media_id, frame_idx, n_frames, d0, d1, d2, d3 FROM vhashes
        UNION ALL
        SELECT media_id + 1000, frame_idx, n_frames, d0, d1, d2, d3
        FROM vhashes
    )
    SELECT id_a, id_b, matched_frames, total_frames,
           (matched_frames * 1000000) // total_frames AS match_ppm
    FROM (
        SELECT a.media_id AS id_a, b.media_id AS id_b,
               CAST(SUM(CASE WHEN
                   bit_count(xor(a.d0, b.d0)) + bit_count(xor(a.d1, b.d1))
                 + bit_count(xor(a.d2, b.d2)) + bit_count(xor(a.d3, b.d3))
                   <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS matched_frames,
               GREATEST(MAX(a.n_frames), MAX(b.n_frames)) AS total_frames
        FROM u a JOIN u b
          ON a.media_id < b.media_id AND a.frame_idx = b.frame_idx
        GROUP BY 1, 2
    ) p
    WHERE (matched_frames * 1000000) // total_frames >= 500000
    """,
)
def q_video_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    """Aligned-frame video near-dup pairs (operators/imagehash.py::
    video_near_dup_pairs) over the RAWV corpus plus planted exact
    twins (ids +1000): (frame_idx, chunk) equi-join candidates,
    bit_count verify, per-pair matched-fraction threshold at 50%.
    The oracle is the all-pairs aligned-frame definition over the
    same closed-form hashes."""
    from .operators.imagehash import video_frame_dhash, video_near_dup_pairs
    from .operators.multimodal import generate_real_media

    vids = generate_real_media(spark, 300).where(
        F.col("mime") == "video/rawv"
    )
    fh = video_frame_dhash(vids)
    u = fh.unionByName(
        fh.withColumn("media_id", F.col("media_id") + F.lit(1000))
    )
    return video_near_dup_pairs(u, max_hamming=3, min_match_ppm=500_000)


@register(
    "multimodal_dhash",
    _dhash_cells_sql() + " SELECT * FROM hashes",
)
def q_multimodal_dhash(spark: SparkSession, sf: str) -> DataFrame:
    """dHash perceptual hashes over real decoded BMP payloads
    (operators/imagehash.py::image_dhash): integer 601 grayscale,
    8x9 block-average grid via cross-multiplied integer comparisons,
    four 16-bit chunk columns.  The oracle replays every bit from the
    closed-form pixel formula — any drift in decoder or hash breaks
    the value hash."""
    from .operators.imagehash import image_dhash
    from .operators.multimodal import generate_real_media

    bmp = generate_real_media(spark, 300).where(F.col("mime") == "image/bmp")
    return image_dhash(bmp)


@register(
    "image_near_dup",
    _dhash_cells_sql()
    + """
    , u AS (
        SELECT media_id, d0, d1, d2, d3 FROM hashes
        UNION ALL
        SELECT media_id + 1000, d0, d1, d2, d3 FROM hashes
    )
    SELECT a.media_id AS id_a, b.media_id AS id_b,
           CAST(bit_count(xor(a.d0, b.d0)) + bit_count(xor(a.d1, b.d1))
              + bit_count(xor(a.d2, b.d2)) + bit_count(xor(a.d3, b.d3))
              AS BIGINT) AS hamming
    FROM u a JOIN u b ON a.media_id < b.media_id
    WHERE bit_count(xor(a.d0, b.d0)) + bit_count(xor(a.d1, b.d1))
        + bit_count(xor(a.d2, b.d2)) + bit_count(xor(a.d3, b.d3)) <= 3
    """,
)
def q_image_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    """Hamming-blocked image near-dup pairs (operators/imagehash.py::
    image_near_dup_pairs) over the BMP corpus plus planted exact twins
    (ids +1000): chunk equi-join candidates, bit_count verify.  The
    oracle is the all-pairs hamming definition over the same closed-
    form hashes, so the gate proves the pigeonhole blocking loses no
    pair within radius 3."""
    from .operators.imagehash import image_dhash, image_near_dup_pairs
    from .operators.multimodal import generate_real_media

    bmp = generate_real_media(spark, 300).where(F.col("mime") == "image/bmp")
    h = image_dhash(bmp).select("media_id", "d0", "d1", "d2", "d3")
    u = h.unionByName(
        h.withColumn("media_id", F.col("media_id") + F.lit(1000))
    )
    return image_near_dup_pairs(u, max_hamming=3)


# ---------------------------------------------------------------------------
# Holt-Winters seasonal forecast (operators/forecast.py)
# ---------------------------------------------------------------------------
def _hw_oracle() -> str:
    from .operators.forecast import holt_winters_oracle_sql

    return holt_winters_oracle_sql(
        """SELECT event_type,
                  CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS hr,
                  CAST(COUNT(*) AS BIGINT) AS y
           FROM events GROUP BY 1, 2""",
        ["event_type"], "hr", "y",
        period=24, alpha=0.5, beta=0.25, gamma=0.25, horizon=24,
    )


@register("forecast_hw_hourly", _hw_oracle())
def q_forecast_hw_hourly(spark: SparkSession, sf: str) -> DataFrame:
    """Additive Holt-Winters forecast (operators/forecast.py::
    holt_winters_forecast) over per-event-type hourly counts with a
    24-hour seasonal cycle and a 24-hour horizon — the recurrence runs
    per key on the aggregated series; the DuckDB WITH RECURSIVE replay
    carries the rolling seasonal window as a LIST column, so level/
    trend/seasonal/yhat match exactly (integer counts make the init
    means order-free)."""
    from .operators.forecast import holt_winters_forecast

    ev = load(spark, sf, "events")
    hourly = ev.groupBy(
        "event_type",
        F.floor(F.unix_timestamp(F.col("ts")) / F.lit(3600))
        .cast("long")
        .alias("hr"),
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    return holt_winters_forecast(
        hourly, ["event_type"], "hr", "y",
        period=24, alpha=0.5, beta=0.25, gamma=0.25, horizon=24,
    )


# ---------------------------------------------------------------------------
# Edit-distance similarity join (operators/editjoin.py::edit_distance_join)
# ---------------------------------------------------------------------------
@register(
    "edit_distance_pairs",
    """
    WITH s AS (
        SELECT DISTINCT 'u' || CAST(user_id % 400 AS VARCHAR) || '.'
               || substr(event_type, 1, 4) AS id
        FROM events WHERE event_type IS NOT NULL
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(levenshtein(a.id, b.id) AS BIGINT) AS dist
    FROM s a JOIN s b
      ON a.id < b.id
     AND abs(length(a.id) - length(b.id)) <= 2
    WHERE levenshtein(a.id, b.id) <= 2
    """,
)
def q_edit_distance_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Bounded edit-distance self-join (operators/editjoin.py::
    edit_distance_join, PassJoin): all distinct event-derived key
    strings within 2 edits of each other — segment-index equi-join
    candidates, threshold-levenshtein verify, no all-pairs cross join.
    The oracle IS the all-pairs definition (DuckDB levenshtein with
    the length filter), so the gate proves the partition windows lose
    no pair.  String doubles as its own id: the pair orientation
    (id_a < id_b) is engine-identical."""
    from .operators.editjoin import edit_distance_join

    ev = load(spark, sf, "events").where(F.col("event_type").isNotNull())
    strs = ev.select(
        F.concat(
            F.lit("u"),
            (F.col("user_id") % 400).cast("string"),
            F.lit("."),
            F.substring("event_type", 1, 4),
        ).alias("s")
    ).distinct()
    return edit_distance_join(
        strs.withColumn("id", F.col("s")), "id", "s", k=2
    )


# ---------------------------------------------------------------------------
# Syslog decode round-trip (sources/syslog.py::decode_syslog)
# ---------------------------------------------------------------------------
def _syslog_lines(ev: DataFrame) -> DataFrame:
    """Shared syslog-line synthesizer for the decode and pipeline gates
    — rendered through the REAL exporter encoders
    (sources/syslog.py::encode_syslog_{5424,3164}), so the gates prove
    the encode→decode round trip, not just the decoder: RFC 5424 (with
    SD) for even event ids, BSD RFC 3164 for odd."""
    sev = (
        F.when(F.col("event_type") == "view", 6)
        .when(F.col("event_type") == "click", 5)
        .when(F.col("event_type") == "signup", 4)
        .when(F.col("event_type") == "purchase", 2)
        .otherwise(3)
    )
    pri = ((16 + F.col("user_id") % 4) * 8 + sev).cast("int")
    host = F.concat(F.lit("host"), (F.col("user_id") % 50).cast("string"))
    sd = F.when(F.col("user_id") % 3 == 0, F.lit(None).cast("string")).otherwise(
        F.lit('[ex@1 k="v"]')
    )
    from .sources.syslog import encode_syslog_3164, encode_syslog_5424

    line_5424 = encode_syslog_5424(
        pri, F.col("ts"), host, F.col("event_type"),
        F.col("event_id"),
        F.concat(F.lit("ID"), (F.col("event_id") % 7).cast("string")),
        sd, F.col("props"),
    )
    line_3164 = encode_syslog_3164(
        pri, F.col("ts"), host, F.col("event_type"),
        F.col("event_id"), F.col("props"),
    )
    return ev.select(
        F.when(F.col("event_id") % 2 == 0, line_5424)
        .otherwise(line_3164)
        .alias("value")
    )


@register(
    "syslog_decode",
    """
    WITH base AS (
        SELECT 16 + user_id % 4 AS facility,
               CASE event_type WHEN 'view' THEN 6 WHEN 'click' THEN 5
                               WHEN 'signup' THEN 4 WHEN 'purchase' THEN 2
                               ELSE 3 END AS severity,
               CASE event_type WHEN 'view' THEN 'info' WHEN 'click' THEN 'notice'
                               WHEN 'signup' THEN 'warning' WHEN 'purchase' THEN 'crit'
                               ELSE 'err' END AS severity_name,
               CASE WHEN event_id % 2 = 0 THEN 1 END AS version,
               'host' || CAST(user_id % 50 AS VARCHAR) AS host,
               event_id AS procid,
               CASE WHEN event_id % 2 = 0 THEN ts
                    ELSE date_trunc('second', ts) END AS dts,
               length(props) AS msg_len
        FROM events
    )
    SELECT facility, severity, severity_name, version,
           COUNT(*) AS docs,
           CAST(COUNT(DISTINCT host) AS BIGINT) AS hosts,
           CAST(SUM(procid) AS BIGINT) AS procid_sum,
           strftime(MIN(dts), '%Y-%m-%d %H:%M:%S') AS min_ts,
           strftime(MAX(dts), '%Y-%m-%d %H:%M:%S') AS max_ts,
           CAST(SUM(msg_len) AS BIGINT) AS msg_chars
    FROM base GROUP BY 1, 2, 3, 4
    """,
)
def q_syslog_decode(spark: SparkSession, sf: str) -> DataFrame:
    """Syslog wire round-trip (sources/syslog.py::decode_syslog): every
    event rendered as a real syslog line — RFC 5424 with structured
    data for even event ids, BSD RFC 3164 (space-padded day, tag[pid])
    for odd — then decoded back and aggregated per (facility, severity,
    version).  The oracle predicts the decoded surface straight from
    the events table (3164 timestamps truncate to seconds; 5424 keeps
    microseconds), so PRI split, name tables, both timestamp grammars,
    host/procid recovery, and message byte counts are all proven
    against the synthesizer-free definition."""
    from .sources.syslog import decode_syslog

    lines = _syslog_lines(load(spark, sf, "events"))
    dec = decode_syslog(lines, default_year=2024)
    return dec.groupBy("facility", "severity", "severity_name", "version").agg(
        F.count(F.lit(1)).alias("docs"),
        F.countDistinct("host").alias("hosts"),
        F.sum(F.col("procid").cast("long")).alias("procid_sum"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("min_ts"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("max_ts"),
        F.sum(F.length("msg")).alias("msg_chars"),
    )


# ---------------------------------------------------------------------------
# StatsD line protocol (sources/statsd.py) — decode + per-type flush
# semantics.  The generator is closed-form on events, so the oracles
# predict the decoded/flushed surface without ever touching the wire.
# ---------------------------------------------------------------------------
_STATSD_DEC_SQL = """
    SELECT event_id AS seq, user_id, event_type, value,
           CAST(event_id % 5 AS INT) AS kind
    FROM events
    WHERE event_id % 97 <> 0
"""

_STATSD_VAL_SQL = """
    SELECT seq,
           'app.' || event_type ||
               CASE kind WHEN 0 THEN '.hits' WHEN 1 THEN '.level'
                         WHEN 2 THEN '.latency' WHEN 3 THEN '.users'
                         ELSE '.size' END AS name,
           CASE kind WHEN 0 THEN 'c' WHEN 1 THEN 'g' WHEN 2 THEN 'ms'
                     WHEN 3 THEN 's' ELSE 'h' END AS mtype,
           CASE WHEN kind = 0 THEN CAST(seq % 7 + 1 AS DOUBLE)
                WHEN kind = 1 THEN
                    CASE WHEN seq % 3 = 0 THEN CAST(seq % 9 + 1 AS DOUBLE)
                         WHEN seq % 3 = 1 THEN -CAST(seq % 9 + 1 AS DOUBLE)
                         ELSE CAST((user_id % 40) * 10 + 5 AS DOUBLE) END
                WHEN kind = 2 THEN CAST(ROUND(value * 100) AS DOUBLE)
                WHEN kind = 4 THEN CAST(seq % 100 AS DOUBLE) END AS val,
           kind = 1 AND seq % 3 IN (0, 1) AS is_delta,
           CASE WHEN kind = 0 AND seq % 2 = 0 THEN 0.5 END AS rate,
           CASE WHEN kind = 3 THEN 'u' || CAST(user_id AS VARCHAR) END AS sval,
           seq % 2 = 0 AS tagged
    FROM ({dec}) dec
""".format(dec=_STATSD_DEC_SQL)


@register(
    "statsd_decode",
    """
    WITH d AS ({val})
    SELECT mtype, COUNT(*) AS docs,
           CAST(COUNT(DISTINCT name) AS BIGINT) AS names,
           CAST(FLOOR(SUM(val) * 1000 + 0.5) AS BIGINT) AS value_sum_milli,
           CAST(SUM(CASE WHEN tagged THEN 1 ELSE 0 END) AS BIGINT) AS n_tagged,
           CAST(SUM(CASE WHEN rate IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sampled,
           CAST(SUM(CASE WHEN is_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_delta
    FROM d GROUP BY mtype
    UNION ALL
    SELECT NULL, COUNT(*), 0, NULL, 0, 0, 0
    FROM events WHERE event_id % 97 = 0
    """.format(val=_STATSD_VAL_SQL),
)
def q_statsd_decode(spark: SparkSession, sf: str) -> DataFrame:
    """StatsD/DogStatsD line decode (sources/statsd.py): every event
    rendered as a real wire line (counters with @0.5 sampling, signed
    gauge deltas, timings, sets, histograms, DogStatsD tags, plus
    malformed lines), decoded back with pure column expressions, and
    profiled per metric type.  The oracle predicts the decoded surface
    straight from the events table — grammar, value typing, delta
    detection, rate and tag capture all break the hash if wrong."""
    from .sources.statsd import decode_statsd, generate_statsd_lines

    dec = decode_statsd(generate_statsd_lines(load(spark, sf, "events")))
    return dec.groupBy("mtype").agg(
        F.count(F.lit(1)).alias("docs"),
        F.countDistinct("name").alias("names"),
        F.floor(F.sum("value") * 1000 + F.lit(0.5)).cast("long").alias(
            "value_sum_milli"
        ),
        F.sum(F.col("tags").isNotNull().cast("int")).cast("long").alias("n_tagged"),
        F.sum(F.col("sample_rate").isNotNull().cast("int"))
        .cast("long")
        .alias("n_sampled"),
        F.sum(F.coalesce(F.col("is_delta"), F.lit(False)).cast("int"))
        .cast("long")
        .alias("n_delta"),
    )


@register(
    "statsd_flush",
    """
    WITH d AS ({val})
    SELECT name, mtype, COUNT(*) AS n,
           CAST(FLOOR(SUM(CASE WHEN mtype = 'c' THEN val / COALESCE(rate, 1.0)
                               ELSE val END) * 1000 + 0.5) AS BIGINT)
               AS flushed_milli,
           CAST(FLOOR(MIN(val) * 1000 + 0.5) AS BIGINT) AS lo_milli,
           CAST(FLOOR(MAX(val) * 1000 + 0.5) AS BIGINT) AS hi_milli
    FROM d WHERE mtype IN ('c', 'ms', 'h') GROUP BY name, mtype
    UNION ALL
    SELECT name, mtype, COUNT(*),
           CAST(COUNT(DISTINCT sval) AS BIGINT) * 1000, NULL, NULL
    FROM d WHERE mtype = 's' GROUP BY name, mtype
    UNION ALL
    SELECT name, 'g', COUNT(*),
           CAST(FLOOR((COALESCE(MAX(base), 0)
                       + COALESCE(SUM(CASE WHEN is_delta
                                            AND (anchor IS NULL OR seq > anchor)
                                           THEN val END), 0)) * 1000 + 0.5)
                AS BIGINT),
           NULL, NULL
    FROM (
        SELECT g.*, a.anchor, a.base
        FROM (SELECT * FROM d WHERE mtype = 'g') g
        LEFT JOIN (
            SELECT name, MAX(seq) AS anchor, arg_max(val, seq) AS base
            FROM d WHERE mtype = 'g' AND NOT is_delta GROUP BY name
        ) a USING (name)
    ) GROUP BY name
    """.format(val=_STATSD_VAL_SQL),
)
def q_statsd_flush(spark: SparkSession, sf: str) -> DataFrame:
    """StatsD server flush semantics over the decoded wire: counters
    rate-corrected (value / @rate), timings/histograms closed-form
    moments, sets distinct-valued, gauges folded latest-absolute plus
    later deltas in arrival order.  The oracle replays every per-type
    rule — including the gauge anchor fold with pre-anchor deltas
    dropped — from the events table alone."""
    from .sources.statsd import decode_statsd, generate_statsd_lines, statsd_flush

    dec = decode_statsd(generate_statsd_lines(load(spark, sf, "events")))
    return statsd_flush(dec, order_col="seq")


@register(
    "prom_text_parse",
    """
    WITH k0 AS (
        SELECT COUNT(*) AS docs, CAST(SUM(event_id % 50 + 1) AS BIGINT) AS vsum
        FROM events WHERE event_id % 3 = 0
    ), k1 AS (
        SELECT COUNT(*) AS docs,
               CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT) AS vsum
        FROM events WHERE event_id % 3 = 1
    ), h AS (
        SELECT 'r' || CAST(user_id % 4 AS VARCHAR) AS route,
               CAST(ROUND(value * 100) AS BIGINT) AS x
        FROM events WHERE event_id % 3 = 2
    ), hr AS (
        SELECT route,
               SUM(CASE WHEN x <= 200 THEN 1 ELSE 0 END) AS le200,
               SUM(CASE WHEN x <= 800 THEN 1 ELSE 0 END) AS le800,
               COUNT(*) AS n, SUM(x) AS s
        FROM h GROUP BY route
    )
    SELECT 'http_requests_total' AS family, 'counter' AS mtype, '' AS suffix,
           docs, vsum AS value_sum
    FROM k0
    UNION ALL
    SELECT 'node_memory_bytes', 'gauge', '', docs, vsum FROM k1
    UNION ALL
    SELECT 'request_duration_seconds', 'histogram', 'bucket',
           3 * COUNT(*), CAST(SUM(le200 + le800 + n) AS BIGINT)
    FROM hr
    UNION ALL
    SELECT 'request_duration_seconds', 'histogram', 'sum',
           COUNT(*), CAST(SUM(s) AS BIGINT)
    FROM hr
    UNION ALL
    SELECT 'request_duration_seconds', 'histogram', 'count',
           COUNT(*), CAST(SUM(n) AS BIGINT)
    FROM hr
    UNION ALL
    SELECT NULL, NULL, NULL, CAST(1 AS BIGINT), NULL
    """,
)
def q_prom_text_parse(spark: SparkSession, sf: str) -> DataFrame:
    """Prometheus text exposition decode (sources/promtext.py): the
    events table rendered as one well-formed /metrics scrape page
    (counter + gauge + per-route histogram with _bucket/_sum/_count
    series, HELP/TYPE headers, one malformed line), decoded back, and
    profiled per (family, type, suffix).  The oracle predicts the
    decoded surface from events alone, so the sample grammar, the
    broadcast TYPE-metadata join, the histogram suffix fallback, and
    bucket cumulative counts all break the hash if wrong."""
    from .sources.promtext import decode_prom_text, generate_prom_text

    dec = decode_prom_text(generate_prom_text(load(spark, sf, "events")))
    return dec.groupBy("family", "mtype", "suffix").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("value").cast("long").alias("value_sum"),
    )


@register(
    "forward_msgpack_decode",
    """
    SELECT 'app.' || event_type AS tag, COUNT(*) AS docs,
           CAST(SUM(event_id) AS BIGINT) AS eid_sum,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS vm_sum,
           CAST(SUM(epoch_us(ts) // 1000000) AS BIGINT) AS sec_sum,
           CAST(SUM(CASE WHEN event_id % 2 = 0
                         THEN (epoch_us(ts) % 1000000) * 1000 ELSE 0 END)
                AS BIGINT) AS ns_sum
    FROM events GROUP BY tag
    """,
)
def q_forward_msgpack_decode(spark: SparkSession, sf: str) -> DataFrame:
    """Fluentd forward protocol round trip (sources/forward.py +
    functions/msgpack_codec.py): events packed per (tag, shard) into
    real msgpack messages across all three entry modes — Forward,
    PackedForward (msgpack stream in a bin), CompressedPackedForward
    (gzip) — with EventTime ext timestamps on even event ids, decoded
    back Arrow-batched, and aggregated per tag.  The oracle predicts
    tag counts, record sums, and second/nanosecond totals straight
    from the events table, so the msgpack codec, the mode dispatch,
    the gzip path, and the ext-time split all break the hash."""
    from .sources.forward import decode_forward, generate_forward_messages

    dec = decode_forward(generate_forward_messages(load(spark, sf, "events")))
    return dec.groupBy("tag").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.col("record")["eid"].cast("long")).alias("eid_sum"),
        F.sum(F.col("record")["vm"].cast("long")).alias("vm_sum"),
        F.sum("time_s").alias("sec_sum"),
        F.sum("time_ns").alias("ns_sum"),
    )


# 16 merges learned by learn_bpe_merges(documents sf0.01, n_merges=16) —
# deterministic (lexicographic tie-break), inlined as the fixed tokenizer
# table the production shape ships (a tokenizer is a build artifact, not
# per-job learning).  MUST stay identical to the list in the oracle SQL.
_BPE_GATE_MERGES = [
    ("e", "r"), ("e", "</w>"), ("n", "</w>"), ("er", "</w>"),
    ("o", "w"), ("ow", "</w>"), ("o", "r"), ("s", "t"),
    ("h", "</w>"), ("a", "t"), ("l", "u"), ("i", "n"),
    ("a", "</w>"), ("g", "</w>"), ("y", "</w>"), ("a", "r"),
]


def _bpe_oracle_sql() -> str:
    """DuckDB restatement of bpe_encode_expr over documents: the same
    strip/frame/replace-chain/unframe pipeline, framing bytes via chr()."""
    sot, eot, sep = "chr(1)", "chr(2)", "chr(3)"
    s = (
        "regexp_replace(regexp_replace(regexp_replace(lower(text), "
        f"'[' || {sot} || {eot} || {sep} || ']', '', 'g'), "
        "'^\\s+|\\s+$', '', 'g'), "
        f"'\\s+', {sep}, 'g')"
    )
    s = f"regexp_replace({s}, '([^' || {sep} || '])', {sot} || '\\1' || {eot}, 'g')"
    eow = f"{sot} || '</w>' || {eot}"
    s = (
        f"CASE WHEN length(regexp_replace(lower(text), '[' || {sot} || {eot} || "
        f"{sep} || ']|\\s', '', 'g')) = 0 THEN '' "
        f"ELSE replace({s}, {sep}, {eow} || {sep}) || {eow} END"
    )
    for a, b in _BPE_GATE_MERGES:
        pat = f"{sot} || '{a}' || {eot} || {sot} || '{b}' || {eot}"
        rep = f"{sot} || '{a}{b}' || {eot}"
        s = f"replace({s}, {pat}, {rep})"
    toks = (
        f"list_filter(string_split_regex(replace({s}, {sep}, ''), "
        f"'[' || {sot} || {eot} || ']+'), x -> x != '')"
    )
    return f"""
    SELECT doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(t.toks, x -> x LIKE '%</w>')) AS BIGINT)
               AS n_words,
           md5(array_to_string(t.toks, chr(1))) AS fingerprint
    FROM (SELECT doc_id, {toks} AS toks FROM documents) t
    """


@register("bpe_encode_tokens", _bpe_oracle_sql())
def q_bpe_encode_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """BPE tokenizer APPLY as a pure-JVM literal-replace chain
    (operators/bpe.py::bpe_encode_expr): the 16-merge table learned by
    `bpe_learn_merges` inlined as expressions, every document encoded
    with zero Python, and the EXACT token sequence pinned per document
    by an md5 fingerprint.  The oracle replays the identical
    strip/frame/replace/unframe pipeline in SQL — any divergence in
    merge order, framing, or word splitting breaks the hash."""
    from .operators.bpe import bpe_encode_expr

    docs = load(spark, sf, "documents")
    toks = bpe_encode_expr(F.col("text"), _BPE_GATE_MERGES)
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.filter(toks, lambda x: x.endswith("</w>")))
        .cast("long")
        .alias("n_words"),
        F.md5(F.encode(F.array_join(toks, "\x01"), "UTF-8")).alias("fingerprint"),
    )


@register(
    "avro_container_decode",
    """
    SELECT event_type AS etype, COUNT(*) AS docs,
           CAST(SUM(event_id) AS BIGINT) AS eid_sum,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS vm_sum,
           CAST(SUM(CASE WHEN event_id % 7 <> 0 THEN
                TRY_CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT)
                END) AS BIGINT) AS k_sum,
           CAST(SUM(CASE WHEN event_id % 7 = 0
                 OR TRY_CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT)
                    IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_k_null,
           CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_tagged
    FROM events GROUP BY etype
    """,
)
def q_avro_container_decode(spark: SparkSession, sf: str) -> DataFrame:
    """Avro Object Container File round trip (sources/avro_ocf.py +
    functions/avro_codec.py): events packed per shard into real OCF
    blobs — header metadata map, sync-framed blocks, null AND deflate
    codecs, zigzag varints, enum / nullable-union / map fields —
    decoded back Arrow-batched and aggregated per event type.  The
    oracle predicts record sums, union-null counts, and tag presence
    straight from the events table, so the container framing, both
    codecs, and every field encoding break the hash if wrong."""
    from .sources.avro_ocf import decode_avro_containers, generate_avro_containers

    dec = decode_avro_containers(generate_avro_containers(load(spark, sf, "events")))
    return dec.groupBy("etype").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("eid").alias("eid_sum"),
        F.sum("vm").alias("vm_sum"),
        F.sum("knum").alias("k_sum"),
        F.sum(F.col("knum").isNull().cast("int")).cast("long").alias("n_k_null"),
        F.sum((F.size("tags") > 0).cast("int")).cast("long").alias("n_tagged"),
    )


@register(
    "streaming_statsd_gauge",
    """
    WITH d AS ({val})
    SELECT name, COUNT(*) AS n_total,
           CAST(FLOOR((COALESCE(MAX(base), 0)
                       + COALESCE(SUM(CASE WHEN is_delta
                                            AND (anchor IS NULL OR seq > anchor)
                                           THEN val END), 0)) * 1000 + 0.5)
                AS BIGINT) AS flushed_milli
    FROM (
        SELECT g.*, a.anchor, a.base
        FROM (SELECT * FROM d WHERE mtype = 'g') g
        LEFT JOIN (
            SELECT name, MAX(seq) AS anchor, arg_max(val, seq) AS base
            FROM d WHERE mtype = 'g' AND NOT is_delta GROUP BY name
        ) a USING (name)
    ) GROUP BY name
    """.format(val=_STATSD_VAL_SQL),
)
def q_streaming_statsd_gauge(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING statsd gauge flush (streaming/stateful.py::
    statsd_gauge_stateful): the generated wire split into two
    mtime-ordered micro-batches at the seq midpoint (so cross-batch
    fold order == global arrival order), gauge state carried across
    the batch boundary in the state store, final per-name value picked
    by max_by(flushed_milli, n_total) from the drained update-mode
    sink.  The oracle is the batch anchor fold — stream == batch is
    the gate condition."""
    import glob
    import os
    import shutil
    import tempfile

    from .sources.statsd import decode_statsd, generate_statsd_lines
    from .streaming.stateful import statsd_gauge_stateful

    lines = generate_statsd_lines(load(spark, sf, "events"))
    mid = lines.agg(F.max("seq")).first()[0] // 2
    tmp = tempfile.mkdtemp(prefix="statsd_stream_")
    try:
        data = f"{tmp}/data"
        os.makedirs(data)
        for i, part_df in enumerate(
            (lines.where(F.col("seq") <= mid), lines.where(F.col("seq") > mid))
        ):
            stage = f"{tmp}/stage{i}"
            part_df.coalesce(1).write.parquet(stage)
            part = glob.glob(f"{stage}/part-*.parquet")[0]
            dst = f"{data}/{i:03d}.parquet"
            shutil.copy(part, dst)
            os.utime(dst, (1000 + i, 1000 + i))
        stream = (
            spark.readStream.schema(lines.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(data)
        )
        out = statsd_gauge_stateful(decode_statsd(stream))
        drained = _run_stream_gate(
            spark, out, "stream_gate_statsd_gauge", mode="update"
        )
        # force materialization before the source files vanish
        drained = spark.createDataFrame(drained.collect(), drained.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return drained.groupBy("name").agg(
        F.max("n_total").alias("n_total"),
        F.max_by("flushed_milli", "n_total").alias("flushed_milli"),
    )


@register(
    "cumulative_to_delta",
    """
    WITH cum AS (
        SELECT user_id, event_type, event_id,
               SUM(CAST(ROUND(value * 100) AS BIGINT))
                   OVER (PARTITION BY user_id, event_type
                         ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) % 10000 AS v,
               ts
        FROM events
    ), lagged AS (
        SELECT *, LAG(v) OVER (PARTITION BY user_id, event_type
                               ORDER BY ts, event_id) AS prev
        FROM cum
    )
    SELECT user_id, event_type, event_id,
           CAST(CASE WHEN v >= prev THEN v - prev ELSE v END AS BIGINT)
               AS delta
    FROM lagged WHERE prev IS NOT NULL
    """,
)
def q_cumulative_to_delta(spark: SparkSession, sf: str) -> DataFrame:
    """cumulativetodeltaprocessor semantics (operators/merge.py::
    cumulative_to_delta): a cumulative counter synthesized per
    (user_id, event_type) series — running sum mod 10000, so crossing
    the modulus plants real counter resets — differenced back to
    deltas with first-point drop and reset-to-value handling.  Row-
    level oracle: every (series, point, delta) must match the SQL LAG
    restatement exactly."""
    from .operators.merge import cumulative_to_delta

    ev = load(spark, sf, "events")
    w = (
        Window.partitionBy("user_id", "event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = ev.select(
        "user_id",
        "event_type",
        "event_id",
        "ts",
        (F.sum(F.round(F.col("value") * 100).cast("long")).over(w) % 10000).alias(
            "v"
        ),
    )
    out = cumulative_to_delta(
        cum, ["user_id", "event_type"], value_col="v", ts_col="ts",
        seq_col="event_id",
    )
    return out.select("user_id", "event_type", "event_id", "delta")


@register(
    "zipkin_span_decode",
    """
    SELECT 'svc-' || event_type AS service,
           CASE CAST(event_id % 5 AS INT)
                WHEN 0 THEN 'client' WHEN 1 THEN 'server'
                WHEN 2 THEN 'producer' WHEN 3 THEN 'consumer'
                ELSE 'internal' END AS kind,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT) + 1) AS BIGINT)
               AS dur_sum,
           CAST(SUM(epoch_us(ts) % 1000000) AS BIGINT) AS start_mod_sum,
           CAST(SUM(CASE WHEN event_id % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_root,
           CAST(SUM(CASE WHEN event_id % 5 = 1 AND event_id % 3 = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
           CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_tagged
    FROM events GROUP BY 1, 2
    """,
)
def q_zipkin_span_decode(spark: SparkSession, sf: str) -> DataFrame:
    """Zipkin v2 JSON intake (sources/zipkin.py): events rendered as
    real POST /api/v2/spans bodies (one JSON array per shard — 16/32
    hex trace ids, kind variants incl. absent, shared server halves,
    endpoint structs, tag maps), decoded back with from_json + explode
    and profiled per (service, kind).  The oracle predicts duration
    and start-micros sums, root/shared/tagged counts straight from the
    events table — id padding, the kind map, and endpoint extraction
    all break the hash if wrong."""
    from .sources.zipkin import decode_zipkin_json, generate_zipkin_bodies

    dec = decode_zipkin_json(generate_zipkin_bodies(load(spark, sf, "events")))
    return dec.groupBy("service", "kind").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("end_us") - F.col("start_us")).alias("dur_sum"),
        # micros-within-second: proves µs transfer while staying
        # overflow-safe at any group size (a raw SUM(epoch_us) wraps
        # int64 past ~5k rows/group x 1.7e15)
        F.sum(F.col("start_us") % 1000000).alias("start_mod_sum"),
        F.sum(F.col("parent_span_id").isNull().cast("int"))
        .cast("long")
        .alias("n_root"),
        F.sum(F.col("shared").cast("int")).cast("long").alias("n_shared"),
        F.sum(F.col("tags").isNotNull().cast("int")).cast("long").alias("n_tagged"),
    )


@register(
    "attribute_actions",
    """
    SELECT event_id,
           'acme' AS tenant,
           event_type AS etype,
           event_type AS svc,
           CAST(CAST(CAST(ROUND(value * 100) AS BIGINT) AS DOUBLE) AS VARCHAR)
               AS vm,
           sha256(CAST(user_id AS VARCHAR)) AS uid_hash,
           'v' || CAST(event_id % 3 AS VARCHAR) AS ver,
           event_type AS res,
           CAST(8 AS INT) AS n_keys
    FROM events
    """,
)
def q_attribute_actions(spark: SparkSession, sf: str) -> DataFrame:
    """attributesprocessor action chain (operators/attributes.py): a
    per-event attribute map run through the full vocabulary — insert
    (with a no-op overwrite attempt), upsert from_attribute, delete of
    a planted secret, SHA-256 hash, named-group extract over an URL
    path, and an int->double convert — then read back as flat columns.
    Row-level oracle: every derived attribute must match the
    closed-form prediction from events."""
    from .operators.attributes import apply_attribute_actions

    ev = load(spark, sf, "events")
    base = ev.select(
        "event_id",
        F.create_map(
            F.lit("etype"), F.col("event_type"),
            F.lit("uid"), F.col("user_id").cast("string"),
            F.lit("vm"), F.round(F.col("value") * 100).cast("long").cast("string"),
            F.lit("path"),
            F.concat(
                F.lit("/api/v"), (F.col("event_id") % 3).cast("string"),
                F.lit("/"), F.col("event_type"),
            ),
            F.lit("secret"), F.concat(F.lit("s"), F.col("event_id").cast("string")),
        ).alias("attributes"),
    )
    out = apply_attribute_actions(
        base,
        [
            {"action": "insert", "key": "tenant", "value": "acme"},
            {"action": "insert", "key": "etype", "value": "SHOULD_NOT_WIN"},
            {"action": "upsert", "key": "svc", "from_attribute": "etype"},
            {"action": "delete", "key": "secret"},
            {"action": "hash", "key": "uid"},
            {
                "action": "extract",
                "key": "path",
                "pattern": r"^/api/(?<ver>v\d+)/(?<res>\w+)$",
            },
            {"action": "convert", "key": "vm", "converted_type": "double"},
        ],
    )
    a = F.col("attributes")
    return out.select(
        "event_id",
        F.element_at(a, "tenant").alias("tenant"),
        F.element_at(a, "etype").alias("etype"),
        F.element_at(a, "svc").alias("svc"),
        F.element_at(a, "vm").alias("vm"),
        F.element_at(a, "uid").alias("uid_hash"),
        F.element_at(a, "ver").alias("ver"),
        F.element_at(a, "res").alias("res"),
        F.size(a).alias("n_keys"),
    )


@register(
    "jaeger_batch_decode",
    """
    SELECT 'svc-' || event_type AS service, COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT) + 1) AS BIGINT)
               AS dur_sum,
           CAST(SUM(epoch_us(ts) % 1000000) AS BIGINT) AS start_mod_sum,
           CAST(SUM(CASE WHEN event_id % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_root,
           CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_high,
           CAST(SUM(CASE WHEN event_id % 2 = 0 THEN event_id % 4 END)
                AS BIGINT) AS code_sum,
           CAST(SUM(CASE WHEN event_id % 2 = 0 AND event_id % 3 = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_ok
    FROM events GROUP BY 1
    """,
)
def q_jaeger_batch_decode(spark: SparkSession, sf: str) -> DataFrame:
    """Jaeger compact-thrift intake (sources/jaeger.py +
    functions/thrift_compact.py): events packed into real per-service
    thrift Batches — varint/zigzag ints, delta field headers, nested
    Process/Span/Tag structs, typed tag unions — decoded back
    Arrow-batched and profiled per service.  The oracle predicts span
    counts, duration/start sums, root spans, 128-bit trace-id highs,
    and LONG/BOOL tag aggregates straight from the events table."""
    from .sources.jaeger import decode_jaeger_batches, generate_jaeger_batches

    dec = decode_jaeger_batches(generate_jaeger_batches(load(spark, sf, "events")))
    return dec.groupBy("service").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dur_us").alias("dur_sum"),
        # micros-within-second (overflow-safe at any group size)
        F.sum(F.col("start_us") % 1000000).alias("start_mod_sum"),
        F.sum(F.col("parent_span_id").isNull().cast("int"))
        .cast("long")
        .alias("n_root"),
        F.sum(
            F.col("trace_id").startswith("000000000000002a").cast("int")
        )
        .cast("long")
        .alias("n_high"),
        F.sum(F.element_at(F.col("tags"), "code").try_cast("long")).alias(
            "code_sum"
        ),
        F.sum(
            (F.element_at(F.col("tags"), "ok") == "true").cast("int")
        )
        .cast("long")
        .alias("n_ok"),
    )


@register(
    "ottl_filter_records",
    """
    WITH rec AS (
        SELECT event_id, event_type, value, user_id,
               '/api/v' || CAST(event_id % 3 AS VARCHAR) || '/' || event_type
                   AS route,
               CASE WHEN user_id % 2 = 0 THEN 'prod' END AS env
        FROM events
    )
    SELECT event_type, COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS eid_sum
    FROM rec
    WHERE NOT COALESCE(
        event_type = 'error'
        OR env = 'canary'
        OR regexp_matches(route, '^/api/v0/')
        OR value >= 19.0, FALSE)
    GROUP BY event_type
    """,
)
def q_ottl_filter_records(spark: SparkSession, sf: str) -> DataFrame:
    """filterprocessor drop semantics via the OTTL-lite compiler
    (operators/filtering.py): four conditions — a scan-column equality
    (pushed to the parquet scan), a map-attribute equality that is
    NULL for half the records (null keeps — the OTTL contract), an
    IsMatch regex over a derived route, and a numeric threshold —
    OR'd, matching records dropped, survivors profiled per type.  The
    oracle replays the exact condition set in SQL."""
    from .operators.filtering import filter_records

    ev = load(spark, sf, "events")
    rec = ev.select(
        "event_id",
        "event_type",
        "value",
        F.concat(
            F.lit("/api/v"), (F.col("event_id") % 3).cast("string"),
            F.lit("/"), F.col("event_type"),
        ).alias("_route"),
        F.when(
            F.col("user_id") % 2 == 0, F.create_map(F.lit("env"), F.lit("prod"))
        ).alias("attributes"),
    ).withColumn(
        "attributes",
        F.map_concat(
            F.coalesce(F.col("attributes"), F.create_map().cast("map<string,string>")),
            F.create_map(F.lit("route"), F.col("_route")),
        ),
    )
    kept = filter_records(
        rec,
        [
            'event_type == "error"',
            'attributes["env"] == "canary"',
            'IsMatch(attributes["route"], "^/api/v0/")',
            "value >= 19.0",
        ],
    )
    return kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").alias("eid_sum"),
    )


@register(
    "signal_to_metrics",
    """
    WITH sig AS (
        SELECT event_id, event_type, value,
               '/r' || CAST(event_id % 3 AS VARCHAR) AS route,
               's' || CAST(user_id % 4 AS VARCHAR) AS svc
        FROM events
    )
    SELECT 'events_by_type' AS metric_name,
           'etype=' || event_type AS dim_str,
           COUNT(*) AS n, CAST(NULL AS BIGINT) AS sum_milli,
           CAST(NULL AS VARCHAR) AS bucket_str
    FROM sig GROUP BY event_type
    UNION ALL
    SELECT 'value_by_route', 'route=' || route, COUNT(*),
           CAST(FLOOR(SUM(value) * 1000 + 0.5) AS BIGINT), NULL
    FROM sig WHERE value >= 5.0 GROUP BY route
    UNION ALL
    SELECT 'value_hist', 'svc=' || svc, COUNT(*),
           CAST(FLOOR(SUM(value) * 1000 + 0.5) AS BIGINT),
           CAST(SUM(CASE WHEN value <= 5.0 THEN 1 ELSE 0 END) AS VARCHAR)
           || ',' ||
           CAST(SUM(CASE WHEN value > 5.0 AND value <= 15.0 THEN 1 ELSE 0 END)
                AS VARCHAR)
           || ',' ||
           CAST(SUM(CASE WHEN value > 15.0 THEN 1 ELSE 0 END) AS VARCHAR)
    FROM sig GROUP BY svc
    """,
)
def q_signal_to_metrics(spark: SparkSession, sf: str) -> DataFrame:
    """signaltometricsconnector (operators/signalmetrics.py): three
    metric specs derived from one signal frame — a dimensioned
    counter, a condition-gated sum over an attribute dimension, and an
    explicit-bounds histogram over a resource dimension — all through
    the OTTL-lite operand/condition compiler.  The oracle replays each
    spec's selection, grouping, and bucketing closed-form from events
    (dims and buckets flattened to strings for cross-engine hashing)."""
    from .operators.signalmetrics import signal_to_metrics

    ev = load(spark, sf, "events")
    sig = ev.select(
        "event_id",
        "event_type",
        "value",
        F.create_map(
            F.lit("route"),
            F.concat(F.lit("/r"), (F.col("event_id") % 3).cast("string")),
        ).alias("attributes"),
        F.create_map(
            F.lit("svc"),
            F.concat(F.lit("s"), (F.col("user_id") % 4).cast("string")),
        ).alias("resource"),
    )
    out = signal_to_metrics(
        sig,
        [
            {
                "name": "events_by_type",
                "attributes": {"etype": "event_type"},
                "type": "counter",
            },
            {
                "name": "value_by_route",
                "conditions": ["value >= 5.0"],
                "attributes": {"route": 'attributes["route"]'},
                "type": "sum",
                "value": "value",
            },
            {
                "name": "value_hist",
                "attributes": {"svc": 'resource.attributes["svc"]'},
                "type": "histogram",
                "value": "value",
                "bounds": [5, 15],
            },
        ],
    )
    dim_str = F.array_join(
        F.sort_array(
            F.transform(
                F.map_entries("dims"),
                lambda e: F.concat(e["key"], F.lit("="), e["value"]),
            )
        ),
        ",",
    )
    return out.select(
        "metric_name",
        dim_str.alias("dim_str"),
        "n",
        "sum_milli",
        F.array_join(
            F.transform(F.col("bucket_counts"), lambda b: b.cast("string")), ","
        ).alias("bucket_str"),
    )


@register(
    "signal_to_metrics_exphist",
    """
    WITH sig AS (
        SELECT CASE WHEN event_id % 50 = 0 THEN 0.0
                    ELSE CAST(ROUND(value * 100) AS DOUBLE) + 0.5 END AS v,
               's' || CAST(user_id % 4 AS VARCHAR) AS svc
        FROM events
    ), b AS (
        SELECT svc, v,
               CASE WHEN v > 0
                    THEN CAST(CEIL(LOG2(v) * 4) - 1 AS BIGINT) END AS idx
        FROM sig
    ), t AS (
        SELECT svc, COUNT(*) AS n,
               CAST(FLOOR(SUM(v) * 1000 + 0.5) AS BIGINT) AS sum_milli,
               CAST(SUM(CASE WHEN v <= 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS zero_count
        FROM b GROUP BY svc
    ), c AS (
        SELECT svc, idx, COUNT(*) AS bn
        FROM b WHERE idx IS NOT NULL GROUP BY svc, idx
    ), e AS (
        SELECT svc,
               string_agg(CAST(idx AS VARCHAR) || ':' || CAST(bn AS VARCHAR),
                          ',' ORDER BY idx) AS eb
        FROM c GROUP BY svc
    )
    SELECT 'value_exphist' AS metric_name, 'svc=' || t.svc AS dim_str,
           t.n, t.sum_milli, e.eb AS exp_buckets, t.zero_count
    FROM t LEFT JOIN e USING (svc)
    """,
)
def q_signal_to_metrics_exphist(spark: SparkSession, sf: str) -> DataFrame:
    """Exponential-histogram body for signal-to-metrics
    (operators/signalmetrics.py::_exp_hist_metric): base-2 OTel bucket
    indexes ceil(log2(v)*2^scale)-1 computed JVM-side, two-phase
    partial-aggregated fold into sparse sorted idx:count strings, zero
    bucket for non-positive values (planted every 50th event).  The
    operand sits on k+0.5 values — never within ulp of a 2^(k/4)
    bucket boundary, so the oracle's LOG2 agrees bit-for-bit."""
    from .operators.signalmetrics import signal_to_metrics

    ev = load(spark, sf, "events")
    sig = ev.select(
        F.when(F.col("event_id") % 50 == 0, F.lit(0.0))
        .otherwise(F.round(F.col("value") * 100).cast("double") + 0.5)
        .alias("vshift"),
        F.create_map(
            F.lit("svc"),
            F.concat(F.lit("s"), (F.col("user_id") % 4).cast("string")),
        ).alias("resource"),
    )
    out = signal_to_metrics(
        sig,
        [
            {
                "name": "value_exphist",
                "attributes": {"svc": 'resource.attributes["svc"]'},
                "type": "exponential_histogram",
                "value": "vshift",
                "scale": 2,
            }
        ],
    )
    return out.select(
        "metric_name",
        F.concat(F.lit("svc="), F.element_at("dims", "svc")).alias("dim_str"),
        "n",
        "sum_milli",
        "exp_buckets",
        "zero_count",
    )


@register(
    "leef_decode_roundtrip",
    """
    SELECT event_id,
           CASE WHEN event_id % 2 = 0 THEN '2.0' ELSE '1.0' END AS leef_version,
           'ACME' AS vendor, 'SIEM=' || event_type AS product,
           'SIG-' || CAST(event_id % 9 AS VARCHAR) AS sig,
           '10.0.' || CAST(user_id % 256 AS VARCHAR) || '.1' AS src,
           'event ' || event_type || ' fired' AS msg,
           CAST(event_id % 5 AS VARCHAR) AS code
    FROM events
    """,
)
def q_leef_decode_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """IBM QRadar LEEF round trip (sources/decoders.py::encode_leef /
    ::decode_leef): even events render as LEEF 2.0 with a declared
    '^' delimiter, odd as tab-delimited 1.0; attribute values carry
    spaces and an escaped '=' in the product header; decoded back
    row-level against the closed-form oracle — header escapes, both
    delimiter paths, and attribute extraction all break the hash."""
    from .sources.decoders import decode_leef, encode_leef

    ev = load(spark, sf, "events")
    hdr = dict(
        vendor=F.lit("ACME"),
        product=F.concat(F.lit("SIEM="), F.col("event_type")),
        version=F.lit("1"),
        event_id=F.concat(F.lit("SIG-"), (F.col("event_id") % 9).cast("string")),
    )
    attrs = {
        "src": F.concat(
            F.lit("10.0."), (F.col("user_id") % 256).cast("string"), F.lit(".1")
        ),
        "msg": F.concat(F.lit("event "), F.col("event_type"), F.lit(" fired")),
        "code": (F.col("event_id") % 5).cast("string"),
    }
    # the decoded LEEF header is also called event_id — carry the
    # numeric row id under a different name through the decoder
    v2 = ev.where(F.col("event_id") % 2 == 0).select(
        F.col("event_id").alias("eid"),
        encode_leef(**hdr, attrs=attrs, leef_version="2.0", delim="^").alias(
            "value"
        ),
    )
    v1 = ev.where(F.col("event_id") % 2 == 1).select(
        F.col("event_id").alias("eid"),
        encode_leef(**hdr, attrs=attrs, leef_version="1.0", delim="\t").alias(
            "value"
        ),
    )
    dec = decode_leef(v2.unionByName(v1), ["src", "msg", "code"])
    return dec.select(
        F.col("eid").alias("event_id"),
        "leef_version",
        "vendor",
        "product",
        F.col("event_id").alias("sig"),
        "src",
        "msg",
        "code",
    )


@register(
    "kafka_batch_decode",
    """
    SELECT event_type AS etype,
           CASE CAST((event_id % 6) % 3 AS INT)
                WHEN 0 THEN 'none' WHEN 1 THEN 'gzip' ELSE 'snappy' END
               AS codec,
           COUNT(*) AS n,
           CAST(SUM(event_id) AS BIGINT) AS eid_sum,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS vm_sum,
           CAST(SUM((event_id % 6) * 1000000000 + event_id // 6) AS BIGINT)
               AS offset_sum,
           CAST(SUM((epoch_us(ts) // 1000) % 1000000) AS BIGINT) AS ms_mod_sum
    FROM events GROUP BY 1, 2
    """,
)
def q_kafka_batch_decode(spark: SparkSession, sf: str) -> DataFrame:
    """Kafka RecordBatch v2 round trip (sources/kafka_batch.py): events
    packed into real magic-2 batches — big-endian header, CRC32C over
    the post-crc bytes, zigzag-varint records with null-able key/value
    and headers, delta offsets/timestamps — across the none/gzip/
    xerial-snappy codec cycle, decoded back Arrow-batched.  The oracle
    predicts per-(header-etype, codec) record counts, parsed-value
    sums, dense offset assignment, and millis-within-second totals
    straight from events; any framing, CRC, compression, or delta
    defect breaks the hash."""
    from .sources.kafka_batch import decode_kafka_batches, generate_kafka_batches

    dec = decode_kafka_batches(generate_kafka_batches(load(spark, sf, "events")))
    parts = F.split(F.col("value"), ":")
    return (
        dec.select(
            F.element_at("headers", "etype").alias("etype"),
            "codec",
            "offset",
            "ts_ms",
            F.element_at(parts, 1).cast("long").alias("eid"),
            F.element_at(parts, 2).cast("long").alias("vm"),
        )
        .groupBy("etype", "codec")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("eid").alias("eid_sum"),
            F.sum("vm").alias("vm_sum"),
            F.sum("offset").alias("offset_sum"),
            F.sum(F.col("ts_ms") % 1000000).alias("ms_mod_sum"),
        )
    )


@register(
    "http_chunked_roundtrip",
    """
    SELECT doc_id,
           CAST(strlen(substr(text, 1, 512)) AS BIGINT) AS n_bytes,
           md5(substr(text, 1, 512)) AS body_md5
    FROM documents
    """,
)
def q_http_chunked_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """HTTP/1.1 chunked transfer-coding round trip
    (sources/framing.py): each document's first 512 chars chunk-encoded
    with a per-doc chunk size (7 + doc_id % 64, JVM encoder), then
    reconstituted by the Arrow-batched decoder; the md5 of the decoded
    entity must equal the md5 of the original text — any framing,
    size-line, or boundary defect breaks the per-row hash."""
    from .sources.framing import decode_chunked_body, encode_chunked_body

    docs = load(spark, sf, "documents").select(
        "doc_id", F.substring("text", 1, 512).alias("_t")
    )
    enc = docs.select(
        "doc_id",
        encode_chunked_body(
            F.encode(F.col("_t"), "UTF-8"),
            (F.col("doc_id") % 64 + 7).cast("int"),
        ).alias("body"),
    )
    return enc.select(
        "doc_id",
        F.length(decode_chunked_body(F.col("body"))).cast("long").alias(
            "n_bytes"
        ),
        F.md5(decode_chunked_body(F.col("body"))).alias("body_md5"),
    )


@register(
    "syslog_octet_frames",
    """
    SELECT CAST(user_id % 20 AS BIGINT) AS conn,
           COUNT(*) AS n_frames,
           CAST(SUM(event_id) AS BIGINT) AS eid_sum,
           CAST(SUM(length('m' || CAST(event_id AS VARCHAR) || ':' ||
                           event_type)) AS BIGINT) AS byte_sum
    FROM events GROUP BY 1
    """,
)
def q_syslog_octet_frames(spark: SparkSession, sf: str) -> DataFrame:
    """RFC 6587 octet-counting round trip (sources/framing.py): each
    connection's messages (per user_id % 20, event_id order) join into
    one length-prefixed TCP stream, split back into frames, and the
    recovered per-connection counts/ids/byte totals must match the
    closed-form prediction — with leftover empty and zero framing
    errors asserted via the aggregate."""
    from .sources.framing import encode_octet_frames, split_octet_frames

    ev = load(spark, sf, "events")
    streams = (
        ev.select(
            (F.col("user_id") % 20).alias("conn"),
            F.struct("event_id", "event_type").alias("e"),
        )
        .groupBy("conn")
        .agg(
            encode_octet_frames(
                F.transform(
                    F.array_sort(F.collect_list("e")),
                    lambda e: F.concat(
                        F.lit("m"),
                        e["event_id"].cast("string"),
                        F.lit(":"),
                        e["event_type"],
                    ),
                )
            ).alias("s")
        )
    )
    parts = streams.select("conn", split_octet_frames(F.col("s")).alias("r"))
    frames = parts.select(
        "conn",
        # clean streams: leftover must be empty and nothing skipped
        F.assert_true(
            (F.col("r")["leftover"] == "") & (F.col("r")["n_bad"] == 0)
        ).alias("_chk"),
        F.explode(F.col("r")["frames"]).alias("frame"),
    )
    return frames.groupBy("conn").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum(
            F.regexp_extract("frame", r"^m(\d+):", 1).cast("long")
        ).alias("eid_sum"),
        F.sum(F.length("frame")).cast("long").alias("byte_sum"),
    )


@register(
    "parquet_footer_meta",
    """
    SELECT parse_filename(file_name) AS file_name,
           row_group_id, row_group_num_rows AS rg_num_rows,
           path_in_schema, compression AS codec, num_values,
           total_uncompressed_size, total_compressed_size
    FROM parquet_metadata(
        ['/root/testdata/sf0.01/events.parquet',
         '/root/testdata/sf0.01/documents.parquet'])
    """,
)
def q_parquet_footer_meta(spark: SparkSession, sf: str) -> DataFrame:
    """Parquet footer parse (sources/parquet_meta.py, over the thrift
    compact codec): per-column-chunk schema paths, value counts, codec
    ids, and compressed/uncompressed sizes read from the REAL fixture
    files' footers, distributed via binaryFile.  The oracle is
    DuckDB's own parquet_metadata() — two independent readers of the
    public format must agree byte-for-byte."""
    from .sources.parquet_meta import parquet_footer_columns

    out = parquet_footer_columns(
        spark, [f"{sf}/events.parquet", f"{sf}/documents.parquet"]
    )
    return out.where(F.col("valid")).select(
        "file_name",
        "row_group_id",
        "rg_num_rows",
        "path_in_schema",
        "codec",
        "num_values",
        "total_uncompressed_size",
        "total_compressed_size",
    )


@register(
    "delta_log_replay",
    """
    WITH f AS (
        SELECT event_id % 200 AS i,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS size,
               COUNT(*) AS n_rows
        FROM events GROUP BY 1
    )
    SELECT 'part-' || CAST(i AS VARCHAR) || '.parquet' AS path,
           size, n_rows AS num_records, CAST(i % 5 AS BIGINT) AS version_added
    FROM f WHERE i % 4 <> 0
    UNION ALL
    SELECT 'compact-' || CAST(i AS VARCHAR) || '.parquet',
           size, n_rows, CAST(7 AS BIGINT)
    FROM f WHERE i % 4 = 0
    """,
)
def q_delta_log_replay(spark: SparkSession, sf: str) -> DataFrame:
    """Delta transaction-log snapshot resolution
    (sources/delta_log.py): a deterministic table life — per-bucket
    adds with nested-JSON stats, a compaction's removes, replacement
    adds — replayed last-writer-wins per path via one from_json
    projection and one max_by groupBy.  Row-level oracle: the live
    file set, sizes, record counts, and add-versions predicted
    closed-form from events."""
    from .sources.delta_log import generate_delta_log, replay_delta_log

    log = generate_delta_log(load(spark, sf, "events"), n_files=200)
    return replay_delta_log(log)


@register(
    "iceberg_snapshot_files",
    """
    WITH f AS (
        SELECT event_id % 120 AS i,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS size,
               COUNT(*) AS n
        FROM events GROUP BY 1
    )
    SELECT 'data/part-' || CAST(i AS VARCHAR) || '.parquet' AS file_path,
           n AS record_count, size AS file_size_in_bytes,
           CAST(0 AS INT) AS status
    FROM f WHERE i % 5 <> 0
    UNION ALL
    SELECT 'data/merged-' || CAST(i AS VARCHAR) || '.parquet',
           n, size, CAST(1 AS INT)
    FROM f WHERE i % 5 = 0
    """,
)
def q_iceberg_snapshot_files(spark: SparkSession, sf: str) -> DataFrame:
    """Iceberg snapshot resolution (sources/iceberg_meta.py): a real
    two-snapshot table — metadata.json, an AVRO manifest list, AVRO
    manifests with EXISTING/DELETED/ADDED entries — resolved to the
    current snapshot's live file inventory through the pure-Python
    avro codec, no catalog, no jars.  Row-level oracle predicts the
    live set, record counts, and sizes closed-form from events."""
    from .sources.iceberg_meta import generate_iceberg_table, resolve_iceberg_snapshot

    metadata, blobs = generate_iceberg_table(load(spark, sf, "events"), n_files=120)
    live = resolve_iceberg_snapshot(metadata, blobs)
    return live.select(
        "file_path", "record_count", "file_size_in_bytes", "status"
    )


# ---------------------------------------------------------------------------
# Dictionary phrase matching (operators/dictmatch.py) — n-gram join path
# ---------------------------------------------------------------------------
_DICT_CATS = {
    "perf": ["fast key scan", "slow table", "fast"],
    "storage": ["table part", "row scan", "merge batch part value"],
}


def _dict_phrase_oracle() -> str:
    from .operators.dictmatch import phrase_match_oracle_sql

    return phrase_match_oracle_sql(
        "SELECT doc_id, text FROM documents", "doc_id", "text", _DICT_CATS
    )


@register("dict_phrase_hits", _dict_phrase_oracle())
def q_dict_phrase_hits(spark: SparkSession, sf: str) -> DataFrame:
    """Dictionary phrase matching as a token n-gram join
    (operators/dictmatch.py::dictionary_phrase_match): per-document hit
    counts for two categories mixing 1/2/3/4-token phrases, counted at
    every token offset.  The regex path (`blocklist_category_hits`)
    stops scaling with dictionary SIZE; this gate proves the join
    formulation — tokenize once, one gram pass per distinct phrase
    LENGTH, broadcast join, partial-agg count — against a positional
    substring oracle that counts the same offsets (including periodic-
    phrase overlaps a replace()-based count would lose)."""
    from .operators.dictmatch import dictionary_phrase_match, phrase_table

    docs = load_docs_spread(spark, sf)
    return dictionary_phrase_match(
        docs, "doc_id", "text", phrase_table(spark, _DICT_CATS)
    )


# ---------------------------------------------------------------------------
# Classifier evaluation battery (operators/evalmetrics.py)
# ---------------------------------------------------------------------------
_EVAL_ROWS_SQL = """
    SELECT source,
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
           ((('0x' || substr(md5(text), 1, 15))::BIGINT % 80)
            + 20 * CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 10000 AS s
    FROM documents
"""


def _scored_docs(spark: SparkSession, sf: str) -> DataFrame:
    """The shared eval fixture: a deterministic 'classifier' whose ppm
    score is an md5-uniform draw plus a +0.2 bump for the true class —
    real separation (AUC well off 0.5), heavy score ties (80 levels),
    imperfect calibration: exactly what the metrics must measure."""
    from .functions.textstats import md5_hash60

    docs = load(spark, sf, "documents")
    label = (F.col("lang") == "en").cast("long")
    return docs.select(
        "source",
        label.alias("y"),
        ((md5_hash60(F.col("text")) % 80 + 20 * label) * 10000)
        .cast("long")
        .alias("s"),
    )


def _auc_oracle() -> str:
    from .operators.evalmetrics import roc_auc_oracle_sql

    return roc_auc_oracle_sql(_EVAL_ROWS_SQL, "y", "s", ["source"])


@register("classifier_auc", _auc_oracle())
def q_classifier_auc(spark: SparkSession, sf: str) -> DataFrame:
    """Exact per-source ROC-AUC (operators/evalmetrics.py::roc_auc):
    Mann-Whitney rank form with average-rank ties, computed over the
    per-(source, score) AGGREGATED table — the window never sees raw
    rows, so a 10^12-row eval slice costs one partial-agg shuffle plus
    a bounded window.  Oracle replays the identical BIGINT rank
    arithmetic."""
    from .operators.evalmetrics import roc_auc

    return roc_auc(_scored_docs(spark, sf), "y", "s", ["source"])


def _confusion_oracle() -> str:
    from .operators.evalmetrics import confusion_oracle_sql

    return confusion_oracle_sql(
        _EVAL_ROWS_SQL, "y", "s", threshold=500000, group_cols=["source"]
    )


@register("classifier_confusion", _confusion_oracle())
def q_classifier_confusion(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source confusion counts + exact-ppm precision/recall/F1 at a
    0.5 threshold (operators/evalmetrics.py::confusion_at) — one
    partial-aggregated pass, pure BIGINT ratios."""
    from .operators.evalmetrics import confusion_at

    return confusion_at(
        _scored_docs(spark, sf), "y", "s", threshold=500000,
        group_cols=["source"],
    )


def _ece_oracle() -> str:
    from .operators.evalmetrics import ece_oracle_sql

    return ece_oracle_sql(_EVAL_ROWS_SQL, "y", "s", n_bins=10)


@register("classifier_calibration", _ece_oracle())
def q_classifier_calibration(spark: SparkSession, sf: str) -> DataFrame:
    """Calibration table + ECE summary row (operators/evalmetrics.py::
    calibration_ece): 10 equal-width ppm bins, per-bin accuracy vs mean
    confidence and the n-weighted expected calibration error, all exact
    BIGINT — the filter-threshold trust readout."""
    from .operators.evalmetrics import calibration_ece

    return calibration_ece(_scored_docs(spark, sf), "y", "s", n_bins=10)


# ---------------------------------------------------------------------------
# Inter-annotator agreement (operators/agreement.py)
# ---------------------------------------------------------------------------
_LANGS = ["en", "de", "zh", "fr", "es"]


def _rater_vote(r: int):
    """A deterministic 'noisy rater': agrees with the corpus lang tag
    70% of the time (md5-uniform draw keyed by rater id), otherwise
    votes an md5-chosen language — the fixture both engines rebuild."""
    from .functions.textstats import md5_hash60

    h = md5_hash60(F.concat(F.col("text"), F.lit(f"#{r}")))
    return F.when(h % 10 < 7, F.col("lang")).otherwise(
        F.element_at(
            F.array(*[F.lit(x) for x in _LANGS]), (h % 5).cast("int") + 1
        )
    )


def _rater_vote_sql(r: int) -> str:
    h = f"('0x' || substr(md5(text || '#{r}'), 1, 15))::BIGINT"
    langs = ", ".join(f"'{x}'" for x in _LANGS)
    return (
        f"CASE WHEN {h} % 10 < 7 THEN lang "
        f"ELSE list_extract([{langs}], CAST({h} % 5 AS INT) + 1) END"
    )


def _cohen_oracle() -> str:
    from .operators.agreement import cohen_kappa_oracle_sql

    rows = (
        f"SELECT lang AS truth, {_rater_vote_sql(0)} AS vote FROM documents"
    )
    return cohen_kappa_oracle_sql(rows, "truth", "vote")


@register("label_agreement_cohen", _cohen_oracle())
def q_label_agreement_cohen(spark: SparkSession, sf: str) -> DataFrame:
    """Cohen's kappa between the corpus lang tag and a deterministic
    70%-faithful rater (operators/agreement.py::cohen_kappa): exact
    BIGINT po/pe/kappa in ppm plus the Landis-Koch band — the
    label-quality audit run before trusting a labeled eval slice.  One
    partial-agg pass to a ≤K² cell table; marginal cross-products on
    that table only."""
    from .operators.agreement import cohen_kappa

    docs = load(spark, sf, "documents").select(
        F.col("lang").alias("truth"), _rater_vote(0).alias("vote")
    )
    return cohen_kappa(docs, "truth", "vote")


def _fleiss_oracle() -> str:
    from .operators.agreement import fleiss_kappa_oracle_sql

    rows = " UNION ALL ".join(
        f"SELECT doc_id, {_rater_vote_sql(r)} AS vote FROM documents"
        for r in range(3)
    )
    return fleiss_kappa_oracle_sql(rows, "doc_id", "vote")


@register("label_agreement_fleiss", _fleiss_oracle())
def q_label_agreement_fleiss(spark: SparkSession, sf: str) -> DataFrame:
    """Fleiss' kappa over a 3-rater panel of deterministic noisy raters
    (operators/agreement.py::fleiss_kappa): the interchangeable-rater
    generalization in exact ppm, raising on ragged panels.  Scale
    shape: groupBy(item, label) partial counts, one Σn² aggregate, one
    K-row column-total pass."""
    from .operators.agreement import fleiss_kappa

    docs = load(spark, sf, "documents")
    votes = None
    for r in range(3):
        v = docs.select("doc_id", _rater_vote(r).alias("vote"))
        votes = v if votes is None else votes.unionAll(v)
    return fleiss_kappa(votes, "doc_id", "vote")


# ---------------------------------------------------------------------------
# SAX symbolization + motifs (operators/sax.py)
# ---------------------------------------------------------------------------
_SAX_SERIES_SQL = """
    SELECT event_type,
           (CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600) AS hr,
           COUNT(*) AS y
    FROM events GROUP BY 1, 2
"""


def _sax_series(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events")
    return ev.groupBy(
        "event_type",
        F.floor(F.unix_timestamp(F.col("ts")) / F.lit(3600))
        .cast("long")
        .alias("hr"),
    ).agg(F.count(F.lit(1)).alias("y"))


def _sax_words_oracle() -> str:
    from .operators.sax import sax_words_oracle_sql

    return sax_words_oracle_sql(
        _SAX_SERIES_SQL, ["event_type"], "hr", "y",
        seg_len=4, word_len=6, alphabet=4,
    )


@register("sax_words_hourly", _sax_words_oracle())
def q_sax_words_hourly(spark: SparkSession, sf: str) -> DataFrame:
    """Equal-frequency SAX words over per-event-type hourly counts
    (operators/sax.py::sax_words): 4-hour PAA segments in exact micro
    units, NTILE(4) rank symbols, 6-segment words — the shape
    vocabulary of a month of traffic.  The window runs on the
    aggregated segment table (hundreds of rows per key), never the raw
    stream; oracle replays PAA/NTILE/string_agg identically."""
    from .operators.sax import sax_words

    return sax_words(
        _sax_series(spark, sf), ["event_type"], "hr", "y",
        seg_len=4, word_len=6, alphabet=4,
    )


def _sax_motifs_oracle() -> str:
    from .operators.sax import sax_motifs_oracle_sql

    return sax_motifs_oracle_sql(
        _SAX_SERIES_SQL, ["event_type"], "hr", "y",
        seg_len=4, word_len=3, alphabet=3, min_count=2,
    )


@register("sax_motifs_hourly", _sax_motifs_oracle())
def q_sax_motifs_hourly(spark: SparkSession, sf: str) -> DataFrame:
    """Recurring traffic shapes (operators/sax.py::sax_motifs): full-
    length 3-symbol/3-letter SAX words seen ≥2 times within their event
    type (coarser alphabet than the word gate so a month of data has
    real recurrences) — the motif table that names repeated patterns;
    a word that never recurs is a shape-level anomaly candidate."""
    from .operators.sax import sax_motifs

    return sax_motifs(
        _sax_series(spark, sf), ["event_type"], "hr", "y",
        seg_len=4, word_len=3, alphabet=3, min_count=2,
    )


# ---------------------------------------------------------------------------
# Label-propagation communities (operators/communities.py)
# ---------------------------------------------------------------------------
def _lpa_oracle() -> str:
    from .operators.communities import label_propagation_oracle_sql

    edges = f"SELECT src_host, dst_host FROM ({ORACLE_SQL['webgraph_host_edges']}) t"
    return label_propagation_oracle_sql(
        edges, src_col="src_host", dst_col="dst_host", rounds=3
    )


@register("host_communities_lpa", _lpa_oracle())
def q_host_communities_lpa(spark: SparkSession, sf: str) -> DataFrame:
    """Host-graph communities via deterministic synchronous label
    propagation (operators/communities.py::label_propagation): 3
    rounds of neighbor-mode labels with smallest-label ties over the
    symmetrized extracted host graph — densely-linked site
    neighborhoods, as opposed to mere connectivity
    (near_dedup_components) or seed distance (webgraph_bfs_depth).
    Oracle unrolls the same rounds as CTE stages."""
    from .operators.communities import label_propagation
    from .operators.webgraph import host_link_edges
    from .sources.pages import generate_linked_pages

    edges = host_link_edges(generate_linked_pages(spark, 4000, replayable=True))
    return label_propagation(
        edges, src_col="src_host", dst_col="dst_host", rounds=3
    )


# ---------------------------------------------------------------------------
# Hilbert layout keys (operators/layout.py::hilbert_key)
# ---------------------------------------------------------------------------
def _hilbert_gate_oracle() -> str:
    from .operators.layout import hilbert_oracle_sql

    base = """
        SELECT event_id,
               CAST(user_id % 256 AS BIGINT) AS h,
               CAST(CAST(FLOOR(epoch(ts)) AS BIGINT) // 60 % 256 AS BIGINT)
                   AS m
        FROM events
    """
    return hilbert_oracle_sql(base, "h", "m", 8, ["event_id", "h", "m"], "hkey")


@register("hilbert_layout_keys", _hilbert_gate_oracle())
def q_hilbert_layout_keys(spark: SparkSession, sf: str) -> DataFrame:
    """Hilbert clustering keys (operators/layout.py::hilbert_key) over
    the same 8-bit host-hash × minute buckets as the Z-order gate —
    consecutive keys are always grid neighbors, so range-partitioned
    files get tighter two-sided min/max envelopes than Morton order at
    quadrant seams.  Per-bit state machine as one projection per level,
    all JVM; oracle unrolls the identical walk as CTE stages."""
    from .operators.layout import hilbert_key

    ev = load(spark, sf, "events")
    staged = ev.select(
        "event_id",
        (F.col("user_id") % 256).cast("long").alias("h"),
        (F.floor(F.unix_timestamp("ts") / 60) % 256).cast("long").alias("m"),
    )
    return hilbert_key(staged, "h", "m", order=8, out_col="hkey")


# ---------------------------------------------------------------------------
# EWMA control-chart anomaly maintenance (streaming/ewma.py)
# ---------------------------------------------------------------------------
def _ewma_oracle() -> str:
    from .streaming.ewma import ewma_anomaly_oracle_sql

    return ewma_anomaly_oracle_sql(
        _SAX_SERIES_SQL, ["event_type"], "hr", "y",
        alpha_num=1, alpha_den=4, z=3, warmup=5,
    )


@register("ewma_anomaly_hourly", _ewma_oracle())
def q_ewma_anomaly_hourly(spark: SparkSession, sf: str) -> DataFrame:
    """EWMA control chart over per-event-type hourly counts
    (streaming/ewma.py::ewma_anomaly): exact-integer level/variance
    recurrence (alpha=1/4, z=3, 5-point warmup), flags where the
    squared deviation from the pre-update level exceeds z²·variance.
    O(1) state per key — the fold runs on the aggregated series; the
    oracle replays the recurrence with a recursive CTE bit for bit."""
    from .streaming.ewma import ewma_anomaly

    return ewma_anomaly(
        _sax_series(spark, sf), ["event_type"], "hr", "y",
        alpha_num=1, alpha_den=4, z=3, warmup=5,
    )


@register("streaming_ewma_anomaly", _ewma_oracle())
def q_streaming_ewma_anomaly(spark: SparkSession, sf: str) -> DataFrame:
    """The same EWMA chart maintained ACROSS micro-batches
    (streaming/ewma.py::ewma_anomaly_stateful): the hourly series is
    staged as two time-split files, replayed as two triggers with
    per-key (idx, level, var) in applyInPandasWithState — the second
    batch's flags depend on first-batch state, and the output still
    matches the batch recursive-CTE oracle row for row (stream ==
    batch is the gate)."""
    import glob
    import os
    import shutil
    import tempfile

    from .streaming.ewma import ewma_anomaly_stateful

    series = _sax_series(spark, sf).select(
        F.col("event_type").alias("key"),
        F.col("hr").cast("long").alias("t"),
        F.col("y").cast("long").alias("y"),
    )
    split = series.agg(
        F.percentile_approx("t", 0.5).cast("long")
    ).collect()[0][0]
    tmp = tempfile.mkdtemp(prefix="ewma_gate_")
    data = f"{tmp}/data"
    os.makedirs(data)
    try:
        for n, part_df in enumerate(
            [series.where(F.col("t") < split), series.where(F.col("t") >= split)]
        ):
            stage = f"{tmp}/stage{n}"
            part_df.coalesce(1).write.parquet(stage)
            src = glob.glob(f"{stage}/part-*.parquet")[0]
            dst = f"{data}/{n:03d}.parquet"
            shutil.copy(src, dst)
            os.utime(dst, (1000 + n, 1000 + n))
        stream = (
            spark.readStream.schema(series.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(data)
        )
        out = ewma_anomaly_stateful(
            stream, "key", "t", "y",
            alpha_num=1, alpha_den=4, z=3, warmup=5,
        )
        sunk = _run_stream_gate(
            spark, out, "stream_gate_ewma", mode="update"
        ).select(
            F.col("key").alias("event_type"),
            "t", "y", "idx", "level_milli", "var_milli2", "is_anomaly",
        )
        # materialize before the checkpoint/staging dirs are removed
        return spark.createDataFrame(sunk.collect(), sunk.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "syslog_pipeline",
    """
    WITH base AS (
        SELECT CASE event_type WHEN 'view' THEN 6 WHEN 'click' THEN 5
                               WHEN 'signup' THEN 4 WHEN 'purchase' THEN 2
                               ELSE 3 END AS severity,
               event_type,
               'host' || CAST(user_id % 50 AS VARCHAR) AS host
        FROM events
    )
    SELECT CASE WHEN severity <= 3 THEN 'logs.error'
                ELSE 'logs.' || event_type END AS sink,
           COUNT(*) AS docs,
           CAST(COUNT(DISTINCT host) AS BIGINT) AS hosts,
           CAST(MIN(severity) AS INT) AS min_severity,
           CAST(MAX(severity) AS INT) AS max_severity
    FROM base GROUP BY 1
    """,
)
def q_syslog_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """Syslog wire → parse → route, composed end to end: synthesized
    RFC 5424/3164 lines decoded (sources/syslog.py), severity mapped to
    the data-stream error rule (severity ≤ err ⇒ logs.error — the
    data_stream.go:83-97 forced-error analog), the rest routed to
    logs.<app> via the same normalize/route operator every other
    pipeline gate uses (operators/route.py::with_data_stream_route),
    then per-sink aggregates.  Every stage is the production operator;
    the oracle predicts sink totals straight from events."""
    from .operators.route import with_data_stream_route
    from .sources.syslog import decode_syslog

    dec = decode_syslog(_syslog_lines(load(spark, sf, "events")),
                        default_year=2024)
    routed = with_data_stream_route(
        dec.select(
            "host",
            "severity",
            (~F.col("valid")).alias("malformed"),
            F.when(F.col("severity") <= 3, "ERROR")
            .otherwise("INFO")
            .alias("level"),
            F.col("app").alias("category"),
        )
    )
    return routed.groupBy("sink").agg(
        F.count(F.lit(1)).alias("docs"),
        F.countDistinct("host").alias("hosts"),
        F.min("severity").alias("min_severity"),
        F.max("severity").alias("max_severity"),
    )


# ---------------------------------------------------------------------------
# Feature hashing (operators/features.py::hashed_features)
# ---------------------------------------------------------------------------
def _hashed_features_oracle() -> str:
    from .operators.features import hashed_features_oracle_sql

    return hashed_features_oracle_sql(
        "SELECT doc_id, text FROM documents", "doc_id", "text", 512
    )


@register("hashed_features_docs", _hashed_features_oracle())
def q_hashed_features_docs(spark: SparkSession, sf: str) -> DataFrame:
    """The hashing trick (operators/features.py::hashed_features,
    Weinberger 2009): dictionary-free signed token-count features at
    512 dims — one scan, one partial-agg shuffle, no vocabulary pass,
    which is why it is THE featurizer that survives 10^12 docs.  md5
    engine so the oracle rebuilds indices and signs relationally."""
    from .operators.features import hashed_features

    return hashed_features(
        load_docs_spread(spark, sf), "doc_id", "text", n_features=512
    )


# ---------------------------------------------------------------------------
# Classical seasonal decomposition (operators/decompose.py)
# ---------------------------------------------------------------------------
def _decompose_oracle() -> str:
    from .operators.decompose import seasonal_decompose_oracle_sql

    return seasonal_decompose_oracle_sql(
        _SAX_SERIES_SQL, ["event_type"], "hr", "y", period=24
    )


@register("seasonal_decompose_hourly", _decompose_oracle())
def q_seasonal_decompose_hourly(spark: SparkSession, sf: str) -> DataFrame:
    """Classical additive decomposition of per-event-type hourly counts
    at period 24 (operators/decompose.py::seasonal_decompose): centered
    2×24 MA trend with half end-weights, per-hour-of-day seasonal means
    re-centered, remainder — all exact micro-unit BIGINT with gap-safe
    NULL trend.  One window over the aggregated series per key; oracle
    replays identical frames and truncating divisions."""
    from .operators.decompose import seasonal_decompose

    return seasonal_decompose(
        _sax_series(spark, sf), ["event_type"], "hr", "y", period=24
    )


# ---------------------------------------------------------------------------
# Geohash spatial bucketing (operators/geo.py)
# ---------------------------------------------------------------------------
def _geohash_oracle() -> str:
    from .operators.geo import geohash_sql

    lat = "(user_id % 1800) / 10.0 - 90.0"
    lon = "((user_id * 7) % 3600) / 10.0 - 180.0"
    return f"""
    SELECT {geohash_sql(lat, lon, 3)} AS cell,
           COUNT(*) AS docs,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users
    FROM events GROUP BY 1
    """


@register("geohash_cells", _geohash_oracle())
def q_geohash_cells(spark: SparkSession, sf: str) -> DataFrame:
    """Geohash spatial bucketing (operators/geo.py::geohash): events
    mapped to deterministic coordinates, bucketed into precision-3
    base32 cells, counted per cell — the grouping key an IP-geo
    enriched pipeline rolls abuse/rate stats on, with the prefix
    property giving coarser cells for free.  Pure shift-and-mask
    forest, scan-fused; the oracle rebuilds every character."""
    from .operators.geo import geohash

    ev = load(spark, sf, "events")
    lat = (F.col("user_id") % 1800) / 10.0 - 90.0
    lon = ((F.col("user_id") * 7) % 3600) / 10.0 - 180.0
    return (
        ev.select(geohash(lat, lon, 3).alias("cell"), "user_id")
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.countDistinct("user_id").alias("users"),
        )
    )


# ---------------------------------------------------------------------------
# Chi-square independence + Cramér's V (operators/contingency.py)
# ---------------------------------------------------------------------------
def _chi_square_oracle() -> str:
    from .operators.contingency import chi_square_oracle_sql

    rows = """
        SELECT event_type AS a,
               'h' || CAST((CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600) % 6
                           AS VARCHAR) AS b
        FROM events
    """
    return chi_square_oracle_sql(rows, "a", "b")


@register("chi_square_events", _chi_square_oracle())
def q_chi_square_events(spark: SparkSession, sf: str) -> DataFrame:
    """Pearson chi-square + Cramér's V for event-type × hour-bucket
    (operators/contingency.py::chi_square): absent cells counted via
    the exact N − Σe identity, per-cell contributions truncated to
    micro BEFORE the order-free BIGINT sum (a double Σ would depend on
    hash-agg order).  One partial-agg pass to the R×C cell table; the
    general crosstab sibling of mi_event_features and the benford
    audit's hard-wired digit test."""
    from .operators.contingency import chi_square

    ev = load(spark, sf, "events").select(
        F.col("event_type").alias("a"),
        F.concat(
            F.lit("h"),
            ((F.floor(F.unix_timestamp("ts") / 3600)) % 6).cast("string"),
        ).alias("b"),
    )
    return chi_square(ev, "a", "b")


# ---------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard (operators/survival.py::na_hazard)
# ---------------------------------------------------------------------------
def _na_oracle() -> str:
    from .operators.survival import na_oracle_sql

    return na_oracle_sql(_SURVIVAL_SUBJECTS_SQL, ["cohort"], "dur_h", "ev")


@register("na_hazard_cohorts", _na_oracle())
def q_na_hazard_cohorts(spark: SparkSession, sf: str) -> DataFrame:
    """Nelson-Aalen cumulative time-to-first-error hazard per cohort
    (operators/survival.py::na_hazard) on the same subjects as the KM
    gate — the additive companion whose increments read directly as
    per-at-risk failure rates.  Because NA is a SUM it is pure window
    functions over the (key, duration) grid (no per-key Python fold at
    all); per-row increments truncate to micro before the order-free
    BIGINT running sum, and the oracle replays with plain SQL windows."""
    from .operators.survival import na_hazard

    return na_hazard(
        _survival_subjects(spark, sf), ["cohort"], "dur_h", "ev"
    )


# ---------------------------------------------------------------------------
# Hampel rolling-median filter (operators/hampel.py)
# ---------------------------------------------------------------------------
def _hampel_oracle() -> str:
    from .operators.hampel import hampel_oracle_sql

    return hampel_oracle_sql(
        _SAX_SERIES_SQL, ["event_type"], "hr", "y", k=3, z_milli=4448
    )


@register("hampel_filter_hourly", _hampel_oracle())
def q_hampel_filter_hourly(spark: SparkSession, sf: str) -> DataFrame:
    """Hampel de-spiking of per-event-type hourly counts
    (operators/hampel.py::hampel_filter): ±3-hour window, exact lower
    median + MAD in BIGINT, 3σ rule as the integer z_milli=4448 test,
    outliers repaired to the window median — the local two-sided
    cleaner run before forecast fits; all JVM array ops over a bounded
    2k+1 window, oracle replays via list window aggregates."""
    from .operators.hampel import hampel_filter

    return hampel_filter(
        _sax_series(spark, sf), ["event_type"], "hr", "y", k=3
    )


# ---------------------------------------------------------------------------
# Isotonic (PAV) calibration (operators/isotonic.py)
# ---------------------------------------------------------------------------
def _isotonic_oracle() -> str:
    from .operators.isotonic import isotonic_oracle_sql

    return isotonic_oracle_sql(_EVAL_ROWS_SQL, "y", "s")


@register("isotonic_calibration", _isotonic_oracle())
def q_isotonic_calibration(spark: SparkSession, sf: str) -> DataFrame:
    """Isotonic calibration of the shared eval fixture
    (operators/isotonic.py::isotonic_calibrate): pool-adjacent-
    violators over the 80 quantized score levels with exact BIGINT
    cross-product violation tests — the monotone score→probability map
    that FIXES what classifier_calibration measures.  PAV folds the
    aggregated level table only; the oracle replays the identical
    push/merge sequence as a LIST-state recursive CTE."""
    from .operators.isotonic import isotonic_calibrate

    return isotonic_calibrate(
        _scored_docs(spark, sf).drop("source"), "y", "s"
    )


def _lift_oracle() -> str:
    from .operators.evalmetrics import lift_curve_oracle_sql

    return lift_curve_oracle_sql(_EVAL_ROWS_SQL, "y", "s", ["source"])


@register("classifier_lift_curve", _lift_oracle())
def q_classifier_lift_curve(spark: SparkSession, sf: str) -> DataFrame:
    """Exact cumulative gains/lift curve per source
    (operators/evalmetrics.py::lift_curve): sampled at every distinct
    score level (decile cuts land mid-tie; levels are a pure function
    of the data), capture and lift in guarded-ratio ppm — the triage
    readout behind every 'filter the top X%' decision.  Windows run on
    the aggregated level table only."""
    from .operators.evalmetrics import lift_curve

    return lift_curve(_scored_docs(spark, sf), "y", "s", ["source"])


def _ap_oracle() -> str:
    from .operators.evalmetrics import average_precision_oracle_sql

    return average_precision_oracle_sql(_EVAL_ROWS_SQL, "y", "s", ["source"])


@register("classifier_avg_precision", _ap_oracle())
def q_classifier_avg_precision(spark: SparkSession, sf: str) -> DataFrame:
    """Tie-aware average precision per source (operators/evalmetrics.py
    ::average_precision): the PR-AUC rank form defined on score LEVELS
    so ties cannot make it engine-dependent, per-level precision
    floored to ppm before the order-free weighted BIGINT sum."""
    from .operators.evalmetrics import average_precision

    return average_precision(_scored_docs(spark, sf), "y", "s", ["source"])


def _brier_oracle() -> str:
    from .operators.evalmetrics import brier_oracle_sql

    return brier_oracle_sql(_EVAL_ROWS_SQL, "y", "s", ["source"])


@register("classifier_brier", _brier_oracle())
def q_classifier_brier(spark: SparkSession, sf: str) -> DataFrame:
    """Brier score per source (operators/evalmetrics.py::brier_score):
    exact per-level squared-error contributions divided to micro before
    the order-free BIGINT sum — the strictly-proper scoring rule that
    catches what accuracy at one threshold hides."""
    from .operators.evalmetrics import brier_score

    return brier_score(_scored_docs(spark, sf), "y", "s", ["source"])


def _spearman_oracle() -> str:
    from .operators.rankcorr import spearman_oracle_sql

    rows = """
        SELECT lang,
               n_chars AS x,
               length(regexp_replace(text, '[^ ]', '', 'g')) + 1 AS y
        FROM documents
    """
    return spearman_oracle_sql(rows, "x", "y", ["lang"])


@register("spearman_doc_stats", _spearman_oracle())
def q_spearman_doc_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language Spearman between document length and word count
    (operators/rankcorr.py::spearman): tie-aware doubled-centered
    ranks from the aggregated value tables, three exact BIGINT
    moments, one IEEE sqrt+division floored to ppm — the monotone-
    dependence audit for numeric column pairs (mi.py's categorical
    sibling)."""
    from .operators.rankcorr import spearman

    docs = load(spark, sf, "documents").select(
        "lang",
        F.col("n_chars").alias("x"),
        (F.length(F.regexp_replace("text", "[^ ]", "")) + 1).alias("y"),
    )
    return spearman(docs, "x", "y", ["lang"])


# ---------------------------------------------------------------------------
# k-core membership of the host graph (operators/graph.py::k_core)
# ---------------------------------------------------------------------------
def _kcore_oracle() -> str:
    from .operators.graph import k_core_oracle_sql

    edges = f"SELECT src_host, dst_host FROM ({ORACLE_SQL['webgraph_host_edges']}) t"
    return k_core_oracle_sql(
        edges, k=2, src_col="src_host", dst_col="dst_host", rounds=8
    )


@register("host_kcore_membership", _kcore_oracle())
def q_host_kcore_membership(spark: SparkSession, sf: str) -> DataFrame:
    """2-core of the extracted host graph (operators/graph.py::k_core):
    iterative degeneracy peel dropping every host with fewer than 2
    surviving neighbors until fixpoint — the density signal that melts
    link tendrils while PageRank (endorsement), LPA (communities) and
    triangles (local closure) each miss.  Per round: one groupBy degree
    pass doubling as the survivor count + two semi joins on the
    shrinking edge set, previous round unpersisted.  Oracle unrolls the
    identical synchronous rounds as chained CTEs (extra rounds past the
    fixpoint are no-ops)."""
    from .operators.graph import k_core
    from .operators.webgraph import host_link_edges
    from .sources.pages import generate_linked_pages

    edges = host_link_edges(generate_linked_pages(spark, 4000, replayable=True))
    return k_core(edges, k=2, src_col="src_host", dst_col="dst_host", max_rounds=8)


# ---------------------------------------------------------------------------
# k-truss of the host graph (operators/graph.py::k_truss) — the EDGE-level
# density peel beside the node-level k-core
# ---------------------------------------------------------------------------
def _ktruss_oracle() -> str:
    from .operators.graph import k_truss_oracle_sql

    edges = f"SELECT src_host, dst_host FROM ({ORACLE_SQL['webgraph_host_edges']}) t"
    return k_truss_oracle_sql(
        edges, k=3, src_col="src_host", dst_col="dst_host", rounds=8
    )


@register("host_ktruss_edges", _ktruss_oracle())
def q_host_ktruss_edges(spark: SparkSession, sf: str) -> DataFrame:
    """3-truss of the extracted host graph: every surviving edge sits in
    >=1 triangle among the survivors — the closure-based spam signal a
    high-degree-but-closure-free link farm cannot fake (it survives
    coring, melts under trussing).  Per round one oriented two-join
    triangle enumeration + slot groupBy; oracle unrolls the identical
    synchronous rounds as chained MATERIALIZED CTEs."""
    from .operators.graph import k_truss
    from .operators.webgraph import host_link_edges
    from .sources.pages import generate_linked_pages

    edges = host_link_edges(generate_linked_pages(spark, 4000, replayable=True))
    return k_truss(edges, k=3, src_col="src_host", dst_col="dst_host", max_rounds=8)


# ---------------------------------------------------------------------------
# Harmonic centrality of the host graph (operators/graph.py) — exact
# bounded-radius form + HyperBall registers (the web-scale approximation)
# ---------------------------------------------------------------------------
def _harmonic_oracle() -> str:
    from .operators.graph import harmonic_oracle_sql

    edges = f"SELECT src_host, dst_host FROM ({ORACLE_SQL['webgraph_host_edges']}) t"
    return harmonic_oracle_sql(edges, radius=3, src_col="src_host", dst_col="dst_host")


@register("host_harmonic_centrality", _harmonic_oracle())
def q_host_harmonic_centrality(spark: SparkSession, sf: str) -> DataFrame:
    """Radius-3 harmonic centrality over the extracted host graph
    (operators/graph.py::harmonic_centrality) — Common Crawl's actual
    domain-ranking metric, exact integer micro-units.  Per round one
    frontier-join + anti-join materializing only the NEW distance
    layer; the quadratic ball hazard is why ``hyperball_neighborhood``
    exists as the scale path.  Oracle replays the BFS rounds as
    MATERIALIZED CTEs."""
    from .operators.graph import harmonic_centrality
    from .operators.webgraph import host_link_edges
    from .sources.pages import generate_linked_pages

    edges = host_link_edges(generate_linked_pages(spark, 4000, replayable=True))
    return harmonic_centrality(
        edges, radius=3, src_col="src_host", dst_col="dst_host"
    )


def _hyperball_oracle() -> str:
    from .operators.graph import hyperball_oracle_sql

    edges = f"SELECT src_host, dst_host FROM ({ORACLE_SQL['webgraph_host_edges']}) t"
    return hyperball_oracle_sql(
        edges, radius=2, p=4, src_col="src_host", dst_col="dst_host"
    )


@register("hyperball_neighborhood", _hyperball_oracle())
def q_hyperball_neighborhood(spark: SparkSession, sf: str) -> DataFrame:
    """HyperBall neighborhood registers (Boldi & Vigna 2013) over the
    host graph (operators/graph.py::hyperball_registers, md5 engine):
    per-node HLL register summaries of the radius-1/2 balls as EXACT
    BIGINTs (s_scaled = sum 2^(40-M_j)), the constant-memory-per-node
    estimator web-scale harmonic/ANF actually uses — registers merge
    along edges (|E|-proportional join + groupBy max per round), never
    materializing ball pairs.  Oracle recomputes registers from exact
    ball membership: the iterative max-merge and the direct ball max
    must agree bit-for-bit."""
    from .operators.graph import hyperball_registers
    from .operators.webgraph import host_link_edges
    from .sources.pages import generate_linked_pages

    edges = host_link_edges(generate_linked_pages(spark, 4000, replayable=True))
    return hyperball_registers(
        edges, radius=2, p=4, src_col="src_host", dst_col="dst_host", engine="md5"
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U experiment readout (operators/rankcorr.py::mann_whitney)
# ---------------------------------------------------------------------------
def _mann_whitney_oracle() -> str:
    from .operators.rankcorr import mann_whitney_oracle_sql

    rows = """
        SELECT event_type,
               CAST(FLOOR(value * 100) AS BIGINT) AS cents,
               user_id % 2 AS arm
        FROM events
    """
    return mann_whitney_oracle_sql(
        rows, "cents", "CASE WHEN arm = 1 THEN 1 WHEN arm = 0 THEN 0 END",
        ["event_type"],
    )


@register("mann_whitney_events", _mann_whitney_oracle())
def q_mann_whitney_events(spark: SparkSession, sf: str) -> DataFrame:
    """Per-event-type Mann-Whitney U between the two deterministic
    user-id arms (operators/rankcorr.py::mann_whitney): exact doubled-
    midrank U2 from the aggregated level table, rank-biserial effect in
    positive-numerator ppm, tie-corrected z in one IEEE sqrt — the
    nonparametric experiment readout beside experiment_lift_ci's
    normal-theory gap and experiment_cuped's variance reduction."""
    from .operators.rankcorr import mann_whitney

    ev = load(spark, sf, "events").select(
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
        (F.col("user_id") % 2).alias("arm"),
    )
    return mann_whitney(ev, "cents", "arm", 1, 0, ["event_type"])


# ---------------------------------------------------------------------------
# t-closeness release audit (operators/privacy.py::t_close_groups)
# ---------------------------------------------------------------------------
def _t_close_oracle() -> str:
    from .operators.privacy import t_close_oracle_sql

    return t_close_oracle_sql(
        "SELECT source, lang FROM documents", ["source"], "lang", 150_000
    )


@register("privacy_t_closeness", _t_close_oracle())
def q_privacy_t_closeness(spark: SparkSession, sf: str) -> DataFrame:
    """t-closeness audit of per-source language distributions
    (operators/privacy.py::t_close_groups, Li et al. ICDE 2007): the
    third release rung after privacy_k_anonymize / privacy_l_diversity —
    exact variational distance between each QI group's sensitive
    distribution and the global one as integer rationals, pass flag via
    cross-multiplied comparison (no division anywhere)."""
    from .operators.privacy import t_close_groups

    docs = load(spark, sf, "documents").select("source", "lang")
    return t_close_groups(docs, ["source"], "lang", 150_000)


def _t_close_ordered_oracle() -> str:
    from .operators.privacy import t_close_oracle_sql

    rows = """
        SELECT event_type, CAST(FLOOR(value) AS BIGINT) % 8 AS sev
        FROM events
    """
    return t_close_oracle_sql(rows, ["event_type"], "sev", 250_000, ordered=True)


@register("privacy_t_closeness_ordered", _t_close_ordered_oracle())
def q_privacy_t_closeness_ordered(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered-domain t-closeness (the paper's EMD form) over per-type
    severity-band distributions: cumulative CDF gaps summed exactly on
    the groups x domain grid, normalized by (m-1) — magnitude-aware
    where the variational form is not."""
    from .operators.privacy import t_close_groups

    ev = load(spark, sf, "events").select(
        "event_type",
        (F.floor(F.col("value")).cast("long") % 8).alias("sev"),
    )
    return t_close_groups(ev, ["event_type"], "sev", 250_000, ordered=True)


# ---------------------------------------------------------------------------
# Star-contraction connected components (operators/graph.py)
# ---------------------------------------------------------------------------
def _components_star_oracle() -> str:
    from .operators.graph import components_star_oracle_sql

    edges = f"SELECT src_host, dst_host FROM ({ORACLE_SQL['webgraph_host_edges']}) t"
    return components_star_oracle_sql(edges, "src_host", "dst_host")


@register("host_components_star", _components_star_oracle())
def q_host_components_star(spark: SparkSession, sf: str) -> DataFrame:
    """Connected components of the host graph via alternating
    large-star/small-star contraction (operators/graph.py::
    connected_components_star, Kiveris et al. SoCC 2014): O(log n)
    rounds where min-label propagation (near_dedup_components) needs
    O(diameter) — the web-graph-scale CC.  Oracle is algorithm-
    independent ground truth: recursive min-reachability."""
    from .operators.graph import connected_components_star
    from .operators.webgraph import host_link_edges
    from .sources.pages import generate_linked_pages

    edges = host_link_edges(generate_linked_pages(spark, 4000, replayable=True))
    return connected_components_star(edges, "src_host", "dst_host")


# ---------------------------------------------------------------------------
# Krippendorff's alpha (operators/agreement.py::krippendorff_alpha)
# ---------------------------------------------------------------------------
def _krippendorff_oracle() -> str:
    from .operators.agreement import krippendorff_oracle_sql

    rows = "SELECT event_id // 4 AS item, event_type AS label FROM events"
    return krippendorff_oracle_sql(rows, "item", "label", max_ratings=5)


@register("label_agreement_krippendorff", _krippendorff_oracle())
def q_label_agreement_krippendorff(spark: SparkSession, sf: str) -> DataFrame:
    """Krippendorff's alpha over a ragged pseudo-panel (items = blocks
    of 4 consecutive events, labels = event types): the agreement
    coefficient for ragged multi-rater panels beside Cohen (2 raters)
    and Fleiss (constant n) — per-item 1/(m-1) pair weights cleared by
    L = lcm(1..max_ratings-1) so every term is BIGINT-exact."""
    from .operators.agreement import krippendorff_alpha

    ev = load(spark, sf, "events").select(
        (F.col("event_id") / 4).cast("long").alias("item"),
        F.col("event_type").alias("label"),
    )
    return krippendorff_alpha(ev, "item", "label", max_ratings=5)


# ---------------------------------------------------------------------------
# Difference-in-differences (operators/experiment.py::diff_in_diff)
# ---------------------------------------------------------------------------
def _did_oracle() -> str:
    from .operators.experiment import diff_in_diff_oracle_sql

    rows = """
        SELECT event_type,
               CAST(FLOOR(value * 100) AS BIGINT) AS cents,
               CAST(user_id % 2 AS INTEGER) AS arm,
               CASE WHEN ts >= TIMESTAMP '2024-01-02' THEN 1 ELSE 0 END AS per
        FROM events
    """
    return diff_in_diff_oracle_sql(
        rows,
        "CASE WHEN arm = 1 THEN 1 WHEN arm = 0 THEN 0 END",
        "CASE WHEN per = 1 THEN 1 WHEN per = 0 THEN 0 END",
        "cents",
        ["event_type"],
    )


@register("experiment_diff_in_diff", _did_oracle())
def q_experiment_diff_in_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Per-event-type difference-in-differences between the two user-id
    arms across the Jan-2 boundary (operators/experiment.py::
    diff_in_diff): the quasi-experimental arm of the experiment family —
    exact BIGINT cell moments, one fixed-shape IEEE expression for
    did/se/z floored to ppm."""
    from .operators.experiment import diff_in_diff

    ev = load(spark, sf, "events").select(
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
        (F.col("user_id") % 2).alias("arm"),
        F.when(F.col("ts") >= F.lit("2024-01-02").cast("timestamp"), 1)
        .otherwise(0)
        .alias("per"),
    )
    return diff_in_diff(
        ev, "arm", "per", "cents", 1, 0, 0, 1, ["event_type"]
    )


# ---------------------------------------------------------------------------
# Jonckheere-Terpstra ordered trend test (operators/rankcorr.py)
# ---------------------------------------------------------------------------
def _jonckheere_oracle() -> str:
    from .operators.rankcorr import jonckheere_oracle_sql

    rows = """
        SELECT event_type,
               CAST(FLOOR(value * 100) AS BIGINT) AS cents,
               CAST(user_id % 3 AS BIGINT) AS cohort
        FROM events
    """
    return jonckheere_oracle_sql(rows, "cents", "cohort", ["event_type"])


@register("jonckheere_trend_events", _jonckheere_oracle())
def q_jonckheere_trend_events(spark: SparkSession, sf: str) -> DataFrame:
    """Per-event-type Jonckheere-Terpstra trend across three ordered
    user cohorts (operators/rankcorr.py::jonckheere_terpstra): exact
    doubled J via two exclusive windows on the dense level x arm grid
    (never pairwise rows), Lehmann tie-corrected z — the ordered-
    alternative k-sample test completing mann_whitney's pair."""
    from .operators.rankcorr import jonckheere_terpstra

    ev = load(spark, sf, "events").select(
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
        (F.col("user_id") % 3).cast("long").alias("cohort"),
    )
    return jonckheere_terpstra(ev, "cents", "cohort", ["event_type"])


# ---------------------------------------------------------------------------
# OTLP/JSON logs wire round trip (sources/otlp.py)
# ---------------------------------------------------------------------------
@register(
    "otlp_log_roundtrip",
    """
    SELECT CAST(1700000000000000000 + event_id * 1000 AS BIGINT)
               AS time_unix_nano,
           CAST(event_id % 24 + 1 AS INTEGER) AS severity_number,
           event_type AS severity_text,
           'evt ' || event_id AS body,
           lower(lpad(to_hex(event_id), 32, '0')) AS trace_id,
           lower(lpad(to_hex(event_id * 7), 16, '0')) AS span_id,
           'svc-' || (user_id % 3) AS svc,
           CAST(user_id % 2 AS VARCHAR) AS env,
           'pipeline' AS scope_name
    FROM events
    """,
)
def q_otlp_log_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """OTLP/JSON logs wire loop (sources/otlp.py): closed-form flat
    records -> encode_otlp_logs (one ExportLogsServiceRequest per
    (service, scope), proto3 JSON int64-as-string, sorted attributes)
    -> decode_otlp_logs (from_json + explodes + map folding) -> scalar
    projection.  The oracle states the closed form directly, so any
    wire-shape defect on EITHER side breaks the hash.  All JVM
    (plan-asserted in test_otlp)."""
    from .sources.otlp import decode_otlp_logs, encode_otlp_logs

    flat = load(spark, sf, "events").select(
        (F.lit(1_700_000_000_000_000_000) + F.col("event_id") * 1000).alias(
            "time_unix_nano"
        ),
        (F.lit(1_700_000_000_000_000_000) + F.col("event_id") * 1000 + 500).alias(
            "observed_unix_nano"
        ),
        (F.col("event_id") % 24 + 1).cast("int").alias("severity_number"),
        F.col("event_type").alias("severity_text"),
        F.concat(F.lit("evt "), F.col("event_id").cast("string")).alias("body"),
        F.lower(F.lpad(F.hex(F.col("event_id")), 32, "0")).alias("trace_id"),
        F.lower(F.lpad(F.hex(F.col("event_id") * 7), 16, "0")).alias("span_id"),
        F.create_map(
            F.lit("env"), (F.col("user_id") % 2).cast("string"),
            F.lit("k"), F.col("event_type"),
        ).alias("attributes"),
        F.concat(F.lit("svc-"), (F.col("user_id") % 3).cast("string")).alias(
            "service_name"
        ),
        F.lit("pipeline").alias("scope_name"),
        F.lit("1.0").alias("scope_version"),
    )
    enc = encode_otlp_logs(flat, ["service_name"])
    dec = decode_otlp_logs(enc)
    return dec.select(
        "time_unix_nano",
        "severity_number",
        "severity_text",
        "body",
        "trace_id",
        "span_id",
        F.element_at("resource_attrs", F.lit("service_name")).alias("svc"),
        F.element_at("attributes", F.lit("env")).alias("env"),
        "scope_name",
    )


# ---------------------------------------------------------------------------
# OTLP/JSON metrics wire round trip (sources/otlp.py) — all five types
# ---------------------------------------------------------------------------
@register(
    "otlp_metrics_roundtrip",
    """
    WITH base AS (
        SELECT event_id AS i, user_id, event_id % 5 AS m FROM events
    )
    SELECT CASE m WHEN 0 THEN 'gauge' WHEN 1 THEN 'sum'
                  WHEN 2 THEN 'histogram'
                  WHEN 3 THEN 'exponential_histogram'
                  ELSE 'summary' END AS metric_type,
           'm' || m || '_' || (i % 3) AS metric_name,
           CAST(1700000000000000000 + i AS BIGINT) AS time_unix_nano,
           CASE WHEN m = 0 THEN CAST(CAST(i AS DOUBLE) / 4 AS VARCHAR)
                WHEN m = 1 THEN CAST(i AS VARCHAR) END AS val_str,
           CASE WHEN m IN (2, 3, 4) THEN CAST(
               CASE m WHEN 2 THEN i % 7 + 3 WHEN 3 THEN i % 5 + 2
                      ELSE i % 9 + 1 END AS BIGINT) END AS count,
           CASE WHEN m IN (2, 3, 4) THEN CAST(i AS DOUBLE) / 2 END AS sum,
           CASE WHEN m = 2 THEN '1.0,2.0' END AS bounds_str,
           CASE WHEN m = 2 THEN (i % 3) || ',' || (i % 5) || ',1' END
               AS buckets_str,
           CASE WHEN m = 3 THEN CAST(1 AS INTEGER) END AS scale,
           CASE WHEN m = 3 THEN CAST(i % 2 AS BIGINT) END AS zero_count,
           CASE WHEN m = 3 THEN (i % 4 + 1) || ',2' END AS pos_str,
           CASE WHEN m = 4 THEN CAST(CAST(i % 3 AS DOUBLE) AS VARCHAR)
               || ',' || CAST(CAST(i % 7 AS DOUBLE) AS VARCHAR) END AS qv_str,
           CASE WHEN m IN (1, 2, 3) THEN CAST(2 AS INTEGER) END
               AS temporality,
           CASE WHEN m = 1 THEN TRUE END AS is_monotonic,
           'svc-' || (user_id % 2) AS svc,
           CAST(i % 6 AS VARCHAR) AS attr_k
    FROM base
    """,
)
def q_otlp_metrics_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """OTLP/JSON metrics wire loop (sources/otlp.py): closed-form
    datapoints of ALL FIVE metric types -> encode_otlp_metrics (per-
    (resource, scope) request, metrics grouped by name/type, proto3
    int64-as-string, total datapoint order) -> decode_otlp_metrics
    (five-branch typed projection) -> scalar/stringified-array
    projection restated closed-form by the oracle.  The pdata metric
    model's wire loop, end to end, engine-exact."""
    from .sources.otlp import decode_otlp_metrics, encode_otlp_metrics

    i = F.col("event_id")
    m = (i % 5).cast("int")
    ev = load(spark, sf, "events").select(
        F.element_at(
            F.array(
                F.lit("gauge"), F.lit("sum"), F.lit("histogram"),
                F.lit("exponential_histogram"), F.lit("summary"),
            ),
            m + 1,
        ).alias("metric_type"),
        F.concat(F.lit("m"), m.cast("string"), F.lit("_"),
                 (i % 3).cast("string")).alias("metric_name"),
        (F.lit(1_700_000_000_000_000_000) + i).alias("time_unix_nano"),
        (F.lit(1_700_000_000_000_000_000) + i).alias("start_time_unix_nano"),
        F.when(m == 0, i.cast("double") / 4).alias("value_double"),
        F.when(m == 1, i).cast("long").alias("value_long"),
        F.when(m == 2, i % 7 + 3)
        .when(m == 3, i % 5 + 2)
        .when(m == 4, i % 9 + 1)
        .cast("long")
        .alias("count"),
        F.when(m.isin(2, 3, 4), i.cast("double") / 2).alias("sum"),
        F.when(m == 2, F.lit(0.5)).alias("min"),
        F.when(m == 2, F.lit(9.5)).alias("max"),
        F.when(m == 2, F.array(F.lit(1.0), F.lit(2.0))).alias("bounds"),
        F.when(
            m == 2, F.array((i % 3), (i % 5), F.lit(1)).cast("array<long>")
        ).alias("bucket_counts"),
        F.when(m == 3, F.lit(1)).cast("int").alias("scale"),
        F.when(m == 3, i % 2).cast("long").alias("zero_count"),
        F.when(m == 3, (i % 3)).cast("int").alias("pos_offset"),
        F.when(m == 3, F.array(i % 4 + 1, F.lit(2)).cast("array<long>")).alias(
            "pos_bucket_counts"
        ),
        F.when(m == 3, F.lit(0)).cast("int").alias("neg_offset"),
        F.when(m == 3, F.array(F.lit(1)).cast("array<long>")).alias(
            "neg_bucket_counts"
        ),
        F.when(m == 4, F.array(F.lit(0.5), F.lit(0.9))).alias("q_quantiles"),
        F.when(
            m == 4,
            F.array((i % 3).cast("double"), (i % 7).cast("double")),
        ).alias("q_values"),
        F.when(m.isin(1, 2, 3), F.lit(2)).cast("int").alias("temporality"),
        F.when(m == 1, F.lit(True)).alias("is_monotonic"),
        F.create_map(F.lit("k"), (i % 6).cast("string")).alias("attributes"),
        F.concat(F.lit("svc-"), (F.col("user_id") % 2).cast("string")).alias(
            "service"
        ),
        F.lit("lib").alias("scope_name"),
    )
    enc = encode_otlp_metrics(ev, ["service"])
    dec = decode_otlp_metrics(enc)
    arr_str = lambda c: F.concat_ws(  # noqa: E731
        ",", F.transform(F.col(c), lambda x: x.cast("string"))
    )
    return dec.select(
        "metric_type",
        "metric_name",
        "time_unix_nano",
        F.coalesce(
            F.col("value_double").cast("string"),
            F.col("value_long").cast("string"),
        ).alias("val_str"),
        "count",
        "sum",
        F.when(F.col("bounds").isNotNull(), arr_str("bounds")).alias(
            "bounds_str"
        ),
        F.when(
            F.col("bucket_counts").isNotNull(), arr_str("bucket_counts")
        ).alias("buckets_str"),
        "scale",
        "zero_count",
        F.when(
            F.col("pos_bucket_counts").isNotNull(),
            arr_str("pos_bucket_counts"),
        ).alias("pos_str"),
        F.when(F.col("q_values").isNotNull(), arr_str("q_values")).alias(
            "qv_str"
        ),
        "temporality",
        "is_monotonic",
        F.element_at("resource_attrs", F.lit("service")).alias("svc"),
        F.element_at("attributes", F.lit("k")).alias("attr_k"),
    )


# ---------------------------------------------------------------------------
# OTLP/JSON traces wire round trip (sources/otlp.py)
# ---------------------------------------------------------------------------
@register(
    "otlp_traces_roundtrip",
    """
    SELECT lower(lpad(to_hex(user_id), 32, '0')) AS trace_id,
           lower(lpad(to_hex(event_id + 1), 16, '0')) AS span_id,
           CASE WHEN event_id % 3 != 0
                THEN lower(lpad(to_hex(event_id), 16, '0')) END
               AS parent_span_id,
           'op-' || event_type AS name,
           CAST(event_id % 5 + 1 AS INTEGER) AS kind,
           CAST(1700000000000000000 + event_id * 10 AS BIGINT)
               AS start_ns,
           CAST(1700000000000000000 + event_id * 10
                + event_id % 97 AS BIGINT) AS end_ns,
           CAST(CASE WHEN event_type = 'error' THEN 2 ELSE 0 END
               AS INTEGER) AS status_code,
           'svc-' || (user_id % 3) AS svc,
           CAST(event_id % 11 AS VARCHAR) AS attr_v
    FROM events
    """,
)
def q_otlp_traces_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """OTLP/JSON traces wire loop (sources/otlp.py): closed-form spans
    (error events carry status ERROR) -> encode_otlp_traces ->
    decode_otlp_traces -> scalar projection restated by the oracle.
    Completes the OTLP wire trio (logs/metrics/traces) feeding the
    apm_metrics / tracetree span consumers."""
    from .sources.otlp import decode_otlp_traces, encode_otlp_traces

    i = F.col("event_id")
    ev = load(spark, sf, "events").select(
        F.lower(F.lpad(F.hex(F.col("user_id")), 32, "0")).alias("trace_id"),
        F.lower(F.lpad(F.hex(i + 1), 16, "0")).alias("span_id"),
        F.when(i % 3 != 0, F.lower(F.lpad(F.hex(i), 16, "0"))).alias(
            "parent_span_id"
        ),
        F.concat(F.lit("op-"), F.col("event_type")).alias("name"),
        (i % 5 + 1).cast("int").alias("kind"),
        (F.lit(1_700_000_000_000_000_000) + i * 10).alias(
            "start_time_unix_nano"
        ),
        (F.lit(1_700_000_000_000_000_000) + i * 10 + i % 97).alias(
            "end_time_unix_nano"
        ),
        F.when(F.col("event_type") == "error", F.lit(2))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("status_code"),
        F.when(F.col("event_type") == "error", F.lit("failed")).alias(
            "status_message"
        ),
        F.create_map(F.lit("a"), (i % 11).cast("string")).alias("attributes"),
        F.concat(F.lit("svc-"), (F.col("user_id") % 3).cast("string")).alias(
            "service"
        ),
        F.lit("tracer").alias("scope_name"),
    )
    dec = decode_otlp_traces(encode_otlp_traces(ev, ["service"]))
    return dec.select(
        "trace_id",
        "span_id",
        "parent_span_id",
        "name",
        "kind",
        F.col("start_time_unix_nano").alias("start_ns"),
        F.col("end_time_unix_nano").alias("end_ns"),
        "status_code",
        F.element_at("resource_attrs", F.lit("service")).alias("svc"),
        F.element_at("attributes", F.lit("a")).alias("attr_v"),
    )


# ---------------------------------------------------------------------------
# Span metrics (RED) from the OTLP traces wire — the spanmetrics-connector
# shape: calls / errors / duration histogram per (service, span name)
# ---------------------------------------------------------------------------
@register(
    "otlp_spanmetrics_red",
    """
    WITH spans AS (
        SELECT 'svc-' || (user_id % 3) AS svc,
               'op-' || event_type AS name,
               CASE WHEN event_type = 'error' THEN 2 ELSE 0 END AS code,
               event_id % 97 AS dur
        FROM events
    )
    SELECT svc, name,
           CAST(COUNT(*) AS BIGINT) AS calls,
           CAST(SUM(CASE WHEN code = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS error_calls,
           CAST(SUM(dur) AS BIGINT) AS dur_sum_ns,
           CAST(SUM(CASE WHEN dur <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS le_10,
           CAST(SUM(CASE WHEN dur <= 50 THEN 1 ELSE 0 END) AS BIGINT) AS le_50,
           CAST(SUM(CASE WHEN dur <= 90 THEN 1 ELSE 0 END) AS BIGINT) AS le_90,
           CAST(COUNT(*) AS BIGINT) AS le_inf
    FROM spans GROUP BY svc, name
    """,
)
def q_otlp_spanmetrics_red(spark: SparkSession, sf: str) -> DataFrame:
    """RED span metrics straight off the OTLP traces WIRE (the
    spanmetrics-connector shape feeding apm-style dashboards): the
    closed-form span corpus rides encode_otlp_traces ->
    decode_otlp_traces, then one partial-aggregated groupBy emits
    calls / error calls / duration sum / cumulative-le histogram per
    (service, span name).  The oracle aggregates the closed form
    directly — wire loss or double-decode would shift every count."""
    from .sources.otlp import decode_otlp_traces, encode_otlp_traces

    i = F.col("event_id")
    ev = load(spark, sf, "events").select(
        F.lower(F.lpad(F.hex(F.col("user_id")), 32, "0")).alias("trace_id"),
        F.lower(F.lpad(F.hex(i + 1), 16, "0")).alias("span_id"),
        F.lit(None).cast("string").alias("parent_span_id"),
        F.concat(F.lit("op-"), F.col("event_type")).alias("name"),
        F.lit(2).cast("int").alias("kind"),
        (F.lit(1_700_000_000_000_000_000) + i * 10).alias(
            "start_time_unix_nano"
        ),
        (F.lit(1_700_000_000_000_000_000) + i * 10 + i % 97).alias(
            "end_time_unix_nano"
        ),
        F.when(F.col("event_type") == "error", F.lit(2))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("status_code"),
        F.lit(None).cast("string").alias("status_message"),
        F.create_map().cast("map<string,string>").alias("attributes"),
        F.concat(F.lit("svc-"), (F.col("user_id") % 3).cast("string")).alias(
            "service"
        ),
        F.lit("tracer").alias("scope_name"),
    )
    spans = decode_otlp_traces(encode_otlp_traces(ev, ["service"]))
    dur = F.col("end_time_unix_nano") - F.col("start_time_unix_nano")
    return (
        spans.select(
            F.element_at("resource_attrs", F.lit("service")).alias("svc"),
            "name",
            F.col("status_code").alias("code"),
            dur.alias("dur"),
        )
        .groupBy("svc", "name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("calls"),
            F.sum(F.when(F.col("code") == 2, 1).otherwise(0))
            .cast("long")
            .alias("error_calls"),
            F.sum("dur").cast("long").alias("dur_sum_ns"),
            F.sum(F.when(F.col("dur") <= 10, 1).otherwise(0))
            .cast("long")
            .alias("le_10"),
            F.sum(F.when(F.col("dur") <= 50, 1).otherwise(0))
            .cast("long")
            .alias("le_50"),
            F.sum(F.when(F.col("dur") <= 90, 1).otherwise(0))
            .cast("long")
            .alias("le_90"),
            F.count(F.lit(1)).cast("long").alias("le_inf"),
        )
    )


# ---------------------------------------------------------------------------
# Consistent-probability head sampling (operators/tailsample.py)
# ---------------------------------------------------------------------------
@register(
    "trace_head_sampling",
    """
    WITH spans AS (
        SELECT lower(lpad(to_hex(user_id * 31 + event_id % 7), 32, '0'))
                   AS trace_id,
               event_id
        FROM events
    )
    SELECT trace_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(1000000.0 / 250000 AS DOUBLE) AS representative_count
    FROM spans
    WHERE ('0x' || substr(md5(trace_id || ':head'), 1, 15))::BIGINT
          % 1000000 < 250000
    GROUP BY trace_id
    """,
)
def q_trace_head_sampling(spark: SparkSession, sf: str) -> DataFrame:
    """Consistent-probability head sampling at 25% (operators/
    tailsample.py::head_sample_traces): verdicts are a pure md5
    function of the trace id — all spans of a trace agree with no
    coordination, and lower rates keep NESTED subsets (pinned in
    tests).  tail_sample_traces is the outcome-aware sibling.  The
    oracle replays the same threshold and aggregates kept traces."""
    from .operators.tailsample import head_sample_traces

    spans = load(spark, sf, "events").select(
        F.lower(
            F.lpad(
                F.hex(F.col("user_id") * 31 + F.col("event_id") % 7), 32, "0"
            )
        ).alias("trace_id"),
        "event_id",
    )
    kept = head_sample_traces(spans, 250_000)
    return kept.groupBy("trace_id", "representative_count").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans")
    ).select("trace_id", "n_spans", "representative_count")


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR control (operators/experiment.py::bh_fdr)
# ---------------------------------------------------------------------------
def _bh_fdr_oracle() -> str:
    from .operators.experiment import bh_fdr_oracle_sql

    rows = """
        SELECT DISTINCT event_type AS fam,
               'seg-' || (user_id % 40) AS segment,
               ('0x' || substr(md5(event_type || ':' || (user_id % 40)
                   || ':p'), 1, 15))::BIGINT % 1000000 AS p
        FROM events
    """
    return bh_fdr_oracle_sql(rows, "p", 100_000, ["fam"])


@register("bh_fdr_segments", _bh_fdr_oracle())
def q_bh_fdr_segments(spark: SparkSession, sf: str) -> DataFrame:
    """Benjamini-Hochberg FDR over ~200 per-(event-type, user-segment)
    hypotheses with deterministic md5-uniform p-values, one family per
    event type (operators/experiment.py::bh_fdr): exact cross-
    multiplied thresholds, tie-safe p-threshold verdicts, Bonferroni
    reference riding along — the multiple-testing gate every fleet of
    segment readouts needs before anyone pages."""
    from .functions.textstats import md5_hash60
    from .operators.experiment import bh_fdr

    ev = load(spark, sf, "events").select(
        F.col("event_type").alias("fam"),
        F.concat(F.lit("seg-"), (F.col("user_id") % 40).cast("string")).alias(
            "segment"
        ),
        F.pmod(
            md5_hash60(
                F.concat(
                    F.col("event_type"), F.lit(":"),
                    (F.col("user_id") % 40).cast("string"), F.lit(":p"),
                )
            ),
            F.lit(1_000_000),
        ).alias("p"),
    ).distinct()
    return bh_fdr(ev, "p", 100_000, ["fam"])


# ---------------------------------------------------------------------------
# Log<->trace correlation: W3C traceparent parse + OTel severity mapping
# ---------------------------------------------------------------------------
@register(
    "log_trace_correlation",
    """
    SELECT event_id,
           CASE WHEN event_id % 7 != 0
                THEN lower(lpad(to_hex(user_id + 1), 32, '0')) END AS trace_id,
           CASE WHEN event_id % 7 != 0
                THEN lower(lpad(to_hex(event_id + 1), 16, '0')) END AS span_id,
           CASE WHEN event_id % 7 != 0
                THEN event_id % 2 = 1 END AS sampled,
           CAST(CASE event_type WHEN 'error' THEN 17 WHEN 'view' THEN 9
                ELSE 0 END AS INTEGER) AS severity_number
    FROM events
    """,
)
def q_log_trace_correlation(spark: SparkSession, sf: str) -> DataFrame:
    """Log->trace correlation fields (functions/extract.py::
    parse_traceparent / ::severity_number): closed-form W3C traceparent
    headers — every 7th one malformed — parsed to (trace_id, span_id,
    sampled) with spec invalidity rules (NULL struct), plus the OTel
    severityNumber mapping with 'view'->info aliasing.  Scan-side
    regexp + literal map, no shuffle."""
    from .functions.extract import parse_traceparent, severity_number

    i = F.col("event_id")
    ev = load(spark, sf, "events").select(
        "event_id",
        F.when(
            i % 7 != 0,
            F.concat(
                F.lit("00-"),
                F.lower(F.lpad(F.hex(F.col("user_id") + 1), 32, "0")),
                F.lit("-"),
                F.lower(F.lpad(F.hex(i + 1), 16, "0")),
                F.lit("-0"),
                (i % 2).cast("string"),
            ),
        ).otherwise(F.lit("garbage")).alias("header"),
        F.when(F.col("event_type") == "view", F.lit("info"))
        .otherwise(F.col("event_type"))
        .alias("level"),
    )
    tp = parse_traceparent(F.col("header"))
    return ev.select(
        "event_id",
        tp["trace_id"].alias("trace_id"),
        tp["span_id"].alias("span_id"),
        tp["sampled"].alias("sampled"),
        severity_number(F.col("level")).alias("severity_number"),
    )


# ---------------------------------------------------------------------------
# Luhn-validated card detection (functions/webtext.py::luhn_valid)
# ---------------------------------------------------------------------------
@register(
    "pii_luhn_cards",
    """
    WITH d AS (
        SELECT doc_id, lpad(CAST(doc_id AS VARCHAR), 16, '1') AS digits
        FROM documents
    ),
    pos AS (
        SELECT doc_id, digits,
               UNNEST(range(1, length(digits) + 1)) AS i
        FROM d
    ),
    t AS (
        SELECT doc_id, digits,
               SUM(CASE WHEN i % 2 = 1 THEN dg
                        WHEN dg < 5 THEN dg * 2
                        ELSE dg * 2 - 9 END) AS total
        FROM (
            SELECT doc_id, digits, i,
                   ascii(substr(reverse(digits), CAST(i AS INTEGER), 1)) - 48
                       AS dg
            FROM pos
        ) q GROUP BY doc_id, digits
    )
    SELECT doc_id, digits, total % 10 = 0 AS luhn_ok FROM t
    """,
)
def q_pii_luhn_cards(spark: SparkSession, sf: str) -> DataFrame:
    """Luhn mod-10 validation over closed-form 16-digit strings
    (functions/webtext.py::luhn_valid, the precision upgrade behind
    card_candidates): one JVM ``aggregate`` over reversed digits —
    the oracle replays the identical double-and-fold sum positionally.
    pii_scrub stays the recall-side regex; this is the precision gate
    a release scrubber should act on."""
    from .functions.webtext import luhn_valid

    docs = load(spark, sf, "documents").select(
        "doc_id",
        F.lpad(F.col("doc_id").cast("string"), 16, "1").alias("digits"),
    )
    return docs.withColumn("luhn_ok", luhn_valid(F.col("digits")))


# ---------------------------------------------------------------------------
# Exact neighborhood function / effective diameter (operators/graph.py)
# ---------------------------------------------------------------------------
def _neighborhood_oracle() -> str:
    from .operators.graph import neighborhood_oracle_sql

    edges = f"SELECT src_host, dst_host FROM ({ORACLE_SQL['webgraph_host_edges']}) t"
    return neighborhood_oracle_sql(
        edges, radius=3, src_col="src_host", dst_col="dst_host"
    )


@register("webgraph_neighborhood_function", _neighborhood_oracle())
def q_webgraph_neighborhood_function(spark: SparkSession, sf: str) -> DataFrame:
    """Exact neighborhood function N(r), r <= 3, of the host graph
    (operators/graph.py::neighborhood_function) — the ANF curve whose
    saturation radius is the effective diameter; hyperball_registers
    is the constant-memory estimate of the same curve at web scale.
    Same layered BFS as harmonic centrality, counted per round."""
    from .operators.graph import neighborhood_function
    from .operators.webgraph import host_link_edges
    from .sources.pages import generate_linked_pages

    edges = host_link_edges(generate_linked_pages(spark, 4000, replayable=True))
    return neighborhood_function(
        edges, radius=3, src_col="src_host", dst_col="dst_host"
    )


# ---------------------------------------------------------------------------
# OTLP end-to-end pipeline: wire decode -> severity -> route -> 1m counts
# ---------------------------------------------------------------------------
@register(
    "otlp_pipeline_e2e",
    """
    WITH logs AS (
        SELECT 'svc-' || (user_id % 3) AS svc,
               CASE event_type WHEN 'error' THEN 17 WHEN 'view' THEN 9
                    ELSE 5 END AS sev,
               (1700000000000000000 + event_id * 1000000000)
                   // 60000000000 AS minute
        FROM events
    )
    SELECT svc,
           CASE WHEN sev >= 17 THEN 'logs-error' ELSE 'logs-info' END
               AS route,
           CAST(minute AS BIGINT) AS minute,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(sev) AS BIGINT) AS sev_sum
    FROM logs GROUP BY 1, 2, 3
    """,
)
def q_otlp_pipeline_e2e(spark: SparkSession, sf: str) -> DataFrame:
    """The OTLP-speaking deployment's whole path in one plan: closed-
    form records ride encode_otlp_logs -> decode_otlp_logs (the wire),
    severity text maps through functions/extract.py::severity_number,
    records route on severity (the E3 data-stream shape), and one
    partial-aggregated groupBy emits per-(service, route, minute)
    counts — wire loss, severity drift, or route misassignment all
    break the oracle's closed-form replay."""
    from .functions.extract import severity_number
    from .sources.otlp import decode_otlp_logs, encode_otlp_logs

    i = F.col("event_id")
    flat = load(spark, sf, "events").select(
        (F.lit(1_700_000_000_000_000_000) + i * 1_000_000_000).alias(
            "time_unix_nano"
        ),
        (F.lit(1_700_000_000_000_000_000) + i * 1_000_000_000).alias(
            "observed_unix_nano"
        ),
        F.lit(0).cast("int").alias("severity_number"),
        F.when(F.col("event_type") == "error", F.lit("error"))
        .when(F.col("event_type") == "view", F.lit("info"))
        .otherwise(F.lit("debug"))
        .alias("severity_text"),
        F.concat(F.lit("evt "), i.cast("string")).alias("body"),
        F.lower(F.lpad(F.hex(i), 32, "0")).alias("trace_id"),
        F.lower(F.lpad(F.hex(i), 16, "0")).alias("span_id"),
        F.create_map().cast("map<string,string>").alias("attributes"),
        F.concat(F.lit("svc-"), (F.col("user_id") % 3).cast("string")).alias(
            "service"
        ),
        F.lit("app").alias("scope_name"),
        F.lit("1").alias("scope_version"),
    )
    dec = decode_otlp_logs(encode_otlp_logs(flat, ["service"]))
    sev = severity_number(F.col("severity_text"))
    return (
        dec.select(
            F.element_at("resource_attrs", F.lit("service")).alias("svc"),
            sev.alias("sev"),
            # integer div, NOT float: the nano timestamp exceeds 2^53
            F.expr("time_unix_nano div 60000000000").alias("minute"),
        )
        .groupBy(
            "svc",
            F.when(F.col("sev") >= 17, "logs-error")
            .otherwise("logs-info")
            .alias("route"),
            "minute",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("sev").cast("long").alias("sev_sum"),
        )
    )


# ---------------------------------------------------------------------------
# STREAMING OTLP intake: per-record wire payloads decoded and aggregated
# under Structured Streaming; stream == batch is the gate
# ---------------------------------------------------------------------------
@register(
    "streaming_otlp_intake",
    """
    SELECT 'svc-' || (user_id % 3) AS svc,
           event_type AS severity_text,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
    """,
)
def q_streaming_otlp_intake(spark: SparkSession, sf: str) -> DataFrame:
    """OTLP wire decode under Structured Streaming: the events stream
    is wrapped into per-record ExportLogsServiceRequest payloads
    (stateless to_json — the receiver-side shape where every POST is
    its own request), decode_otlp_logs runs UNCHANGED on the streaming
    frame (from_json + explodes are stateless), and a streaming
    aggregate drains complete-mode.  Stream == batch closed form is
    the gate, same discipline as every streaming twin."""
    from .sources.otlp import decode_otlp_logs

    schema = spark.read.parquet(f"{sf}/events.parquet").schema
    stream = spark.readStream.schema(schema).parquet(f"{sf}/events.*")
    payload = F.to_json(
        F.struct(
            F.array(
                F.struct(
                    F.struct(
                        F.array(
                            F.struct(
                                F.lit("service").alias("key"),
                                F.struct(
                                    F.concat(
                                        F.lit("svc-"),
                                        (F.col("user_id") % 3).cast("string"),
                                    ).alias("stringValue")
                                ).alias("value"),
                            )
                        ).alias("attributes")
                    ).alias("resource"),
                    F.array(
                        F.struct(
                            F.struct(F.lit("app").alias("name")).alias("scope"),
                            F.array(
                                F.struct(
                                    (
                                        F.lit(1_700_000_000_000_000_000)
                                        + F.col("event_id")
                                    ).cast("string").alias("timeUnixNano"),
                                    F.col("event_type").alias("severityText"),
                                    F.struct(
                                        F.concat(
                                            F.lit("evt "),
                                            F.col("event_id").cast("string"),
                                        ).alias("stringValue")
                                    ).alias("body"),
                                )
                            ).alias("logRecords"),
                        )
                    ).alias("scopeLogs"),
                )
            ).alias("resourceLogs")
        )
    )
    dec = decode_otlp_logs(stream.select(payload.alias("payload")))
    agg = dec.groupBy(
        F.element_at("resource_attrs", F.lit("service")).alias("svc"),
        "severity_text",
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    return _run_stream_gate(spark, agg, "stream_gate_otlp_intake")


# ---------------------------------------------------------------------------
# STREAMING OTLP intake over the PRIMARY (protobuf) wire
# ---------------------------------------------------------------------------
@register(
    "streaming_otlp_protobuf_intake",
    """
    SELECT 'svc-' || (user_id % 3) AS svc,
           event_type AS severity_text,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(event_id % 24 + 1) AS BIGINT) AS sev_sum
    FROM events GROUP BY 1, 2
    """,
)
def q_streaming_otlp_protobuf_intake(spark: SparkSession, sf: str) -> DataFrame:
    """The protobuf transport under Structured Streaming — closing the
    streaming x transport matrix (JSON streaming intake above; batch
    protobuf round trips in the wire section).  The shared closed-form
    log corpus is projected off a readStream, each record rides its
    own binary ExportLogsServiceRequest body (per-row receiver shape,
    mapInArrow encode -> mapInArrow decode, both stateless and thus
    streaming-legal), and a complete-mode aggregate drains to memory.
    The oracle recomputes count + severity sum from the closed form,
    so a wire defect in either codec direction under the streaming
    engine breaks the hash exactly as it would in batch."""
    from .sources.otlp import (
        decode_otlp_logs_protobuf,
        encode_otlp_logs_protobuf,
    )

    schema = spark.read.parquet(f"{sf}/events.parquet").schema
    stream = spark.readStream.schema(schema).parquet(f"{sf}/events.*")
    flat = _otlp_log_wire_closed_form(spark, sf, events=stream)
    dec = decode_otlp_logs_protobuf(encode_otlp_logs_protobuf(flat))
    agg = dec.groupBy(
        F.element_at("resource_attrs", F.lit("service_name")).alias("svc"),
        "severity_text",
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("severity_number").cast("long").alias("sev_sum"),
    )
    return _run_stream_gate(spark, agg, "stream_gate_otlp_pb_intake")


# ---------------------------------------------------------------------------
# Per-segment language profile (operators/textmine.py)
# ---------------------------------------------------------------------------
@register(
    "text_segment_lang_profile",
    """
    WITH segs AS (
        SELECT doc_id, trim(seg) AS seg FROM (
            SELECT doc_id, UNNEST(string_split(text, '.')) AS seg
            FROM documents
        ) q WHERE trim(seg) != ''
    ),
    c AS (
        SELECT doc_id, seg,
               len(list_filter(toks, x -> x IN ('the','a','and','of','to')))
                   AS c_en,
               len(list_filter(toks, x -> x IN ('der','die','und','das','ein')))
                   AS c_de,
               len(list_filter(toks, x -> x IN ('le','la','et','les','un')))
                   AS c_fr,
               len(list_filter(toks, x -> x IN ('el','los','y','las','una')))
                   AS c_es
        FROM (SELECT doc_id, seg, string_split(lower(seg), ' ') AS toks
              FROM segs) t
    ),
    lid AS (
        SELECT doc_id,
               CASE WHEN regexp_matches(seg, '[一-鿿]') THEN 'zh'
                    WHEN greatest(c_en,c_de,c_fr,c_es) = 0 THEN 'und'
                    WHEN c_en = greatest(c_en,c_de,c_fr,c_es) THEN 'en'
                    WHEN c_de = greatest(c_en,c_de,c_fr,c_es) THEN 'de'
                    WHEN c_fr = greatest(c_en,c_de,c_fr,c_es) THEN 'fr'
                    ELSE 'es' END AS lang
        FROM c
    ),
    counts AS (SELECT doc_id, lang, COUNT(*) AS n FROM lid GROUP BY 1, 2),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY n DESC, lang) AS rk
        FROM counts
    ),
    totals AS (
        SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_segments,
               CAST(COUNT(*) AS BIGINT) AS n_langs
        FROM counts GROUP BY 1
    )
    SELECT t.doc_id, t.n_segments, t.n_langs,
           r.lang AS dominant_lang,
           CAST((r.n * 1000000) // t.n_segments AS BIGINT) AS dominant_ppm
    FROM totals t JOIN ranked r ON r.doc_id = t.doc_id AND r.rk = 1
    """,
)
def q_text_segment_lang_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Per-sentence language profile of each document (operators/
    textmine.py::segment_language_profile): the CCNet-style mixed-
    language audit — dominant language by (count desc, lang asc) with
    its exact ppm share, over the SAME shared lang-ID heuristic as
    text_lang_id.  One bounded explode + per-doc lang window."""
    from .operators.textmine import segment_language_profile

    return segment_language_profile(load(spark, sf, "documents"))


# ---------------------------------------------------------------------------
# OTLP logs PROTOBUF wire round trip (sources/otlp.py + protowire.py)
# ---------------------------------------------------------------------------
@register(
    "otlp_protobuf_roundtrip",
    """
    SELECT CAST(1700000000000000000 + event_id * 1000 AS BIGINT)
               AS time_unix_nano,
           CAST(event_id % 24 + 1 AS INTEGER) AS severity_number,
           event_type AS severity_text,
           'evt ' || event_id AS body,
           lower(lpad(to_hex(event_id), 32, '0')) AS trace_id,
           lower(lpad(to_hex(event_id * 7), 16, '0')) AS span_id,
           'svc-' || (user_id % 3) AS svc,
           CAST(user_id % 2 AS VARCHAR) AS env,
           'pipeline' AS scope_name
    FROM events
    """,
)
def q_otlp_protobuf_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """OTLP logs over the PRIMARY (protobuf) wire: the same closed-form
    records as otlp_log_roundtrip ride the pure-Python proto codec
    (functions/protowire.py, mapInArrow both ways — the PRW
    transport pattern) and must land on the identical flat
    rows; the oracle is the same closed form, so a wire defect in
    EITHER codec direction breaks the hash.  fixed64 timestamps,
    varint severities, bytes ids, nested KeyValue/AnyValue — all
    hand-rolled from the public encoding spec."""
    from .sources.otlp import (
        decode_otlp_logs_protobuf,
        encode_otlp_logs_protobuf,
    )

    dec = decode_otlp_logs_protobuf(
        encode_otlp_logs_protobuf(_otlp_log_wire_closed_form(spark, sf))
    )
    return _otlp_log_wire_projection(dec)


def _otlp_log_wire_closed_form(
    spark: SparkSession, sf: str, events: DataFrame | None = None
) -> DataFrame:
    """The otlp_protobuf_roundtrip closed-form log corpus (shared by the
    per-row, exporter-batched, and streaming wire gates).  ``events``
    overrides the batch table with a caller-supplied frame (the
    streaming gate passes a readStream of the same parquet) — every
    expression below is stateless, so the projection is
    streaming-safe by construction."""
    i = F.col("event_id")
    if events is None:
        events = load(spark, sf, "events")
    return events.select(
        (F.lit(1_700_000_000_000_000_000) + i * 1000).alias("time_unix_nano"),
        (F.lit(1_700_000_000_000_000_000) + i * 1000 + 500).alias(
            "observed_unix_nano"
        ),
        (i % 24 + 1).cast("int").alias("severity_number"),
        F.col("event_type").alias("severity_text"),
        F.concat(F.lit("evt "), i.cast("string")).alias("body"),
        F.lower(F.lpad(F.hex(i), 32, "0")).alias("trace_id"),
        F.lower(F.lpad(F.hex(i * 7), 16, "0")).alias("span_id"),
        F.create_map(
            F.lit("env"), (F.col("user_id") % 2).cast("string"),
        ).alias("attributes"),
        F.concat(F.lit("svc-"), (F.col("user_id") % 3).cast("string")).alias(
            "service_name"
        ),
        F.lit("pipeline").alias("scope_name"),
    )


def _otlp_log_wire_projection(dec: DataFrame) -> DataFrame:
    return dec.select(
        "time_unix_nano",
        "severity_number",
        "severity_text",
        "body",
        "trace_id",
        "span_id",
        F.element_at("resource_attrs", F.lit("service_name")).alias("svc"),
        F.element_at("attributes", F.lit("env")).alias("env"),
        "scope_name",
    )


@register(
    "otlp_protobuf_batched_roundtrip", ORACLE_SQL["otlp_protobuf_roundtrip"]
)
def q_otlp_protobuf_batched_roundtrip(
    spark: SparkSession, sf: str
) -> DataFrame:
    """The same closed-form log corpus over the EXPORTER-side wire
    shape: ``encode_otlp_logs_protobuf(batched=True)`` packs each
    (service_name, scope_name) run per partition into ONE
    ExportLogsServiceRequest (sources/otlp.py::
    _encode_protobuf_bodies_grouped — no shuffle, envelope amortized)
    and decode re-flattens.  The oracle is the unchanged per-row
    closed form, proving results are grouping-invariant: however the
    exporter batches, the receiver sees identical rows."""
    from .sources.otlp import (
        decode_otlp_logs_protobuf,
        encode_otlp_logs_protobuf,
    )

    dec = decode_otlp_logs_protobuf(
        encode_otlp_logs_protobuf(
            _otlp_log_wire_closed_form(spark, sf), batched=True
        )
    )
    return _otlp_log_wire_projection(dec)


# ---------------------------------------------------------------------------
# OTLP traces + metrics PROTOBUF wire round trips — completing the
# transport matrix (JSON + protobuf) x (logs/metrics/traces).  Oracles
# are byte-identical to the JSON twins: the closed form is the truth,
# and BOTH transports must land on it.
# ---------------------------------------------------------------------------
@register("otlp_traces_protobuf_roundtrip", ORACLE_SQL["otlp_traces_roundtrip"])
def q_otlp_traces_protobuf_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """The otlp_traces_roundtrip closed-form span corpus over the
    PRIMARY (protobuf) wire: encode_otlp_traces_protobuf ->
    decode_otlp_traces_protobuf (functions/protowire.py — bytes ids,
    fixed64 times, varint kind, nested Status with reserved field 1
    skipped) must land on the identical flat rows; the oracle is the
    unchanged JSON twin's closed form, so transport-specific loss on
    either side breaks the hash."""
    from .sources.otlp import (
        decode_otlp_traces_protobuf,
        encode_otlp_traces_protobuf,
    )

    i = F.col("event_id")
    ev = load(spark, sf, "events").select(
        F.lower(F.lpad(F.hex(F.col("user_id")), 32, "0")).alias("trace_id"),
        F.lower(F.lpad(F.hex(i + 1), 16, "0")).alias("span_id"),
        F.when(i % 3 != 0, F.lower(F.lpad(F.hex(i), 16, "0"))).alias(
            "parent_span_id"
        ),
        F.concat(F.lit("op-"), F.col("event_type")).alias("name"),
        (i % 5 + 1).cast("int").alias("kind"),
        (F.lit(1_700_000_000_000_000_000) + i * 10).alias(
            "start_time_unix_nano"
        ),
        (F.lit(1_700_000_000_000_000_000) + i * 10 + i % 97).alias(
            "end_time_unix_nano"
        ),
        F.when(F.col("event_type") == "error", F.lit(2))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("status_code"),
        F.when(F.col("event_type") == "error", F.lit("failed")).alias(
            "status_message"
        ),
        F.create_map(F.lit("a"), (i % 11).cast("string")).alias("attributes"),
        F.concat(F.lit("svc-"), (F.col("user_id") % 3).cast("string")).alias(
            "service_name"
        ),
        F.lit("tracer").alias("scope_name"),
    )
    dec = decode_otlp_traces_protobuf(encode_otlp_traces_protobuf(ev))
    return dec.select(
        "trace_id",
        "span_id",
        "parent_span_id",
        "name",
        "kind",
        F.col("start_time_unix_nano").alias("start_ns"),
        F.col("end_time_unix_nano").alias("end_ns"),
        "status_code",
        F.element_at("resource_attrs", F.lit("service_name")).alias("svc"),
        F.element_at("attributes", F.lit("a")).alias("attr_v"),
    )


@register(
    "otlp_metrics_protobuf_roundtrip", ORACLE_SQL["otlp_metrics_roundtrip"]
)
def q_otlp_metrics_protobuf_roundtrip(
    spark: SparkSession, sf: str
) -> DataFrame:
    """The otlp_metrics_roundtrip closed-form datapoints (ALL FIVE
    types) over the PRIMARY (protobuf) wire: sfixed64 as_int, packed
    fixed64 bucket_counts / packed double bounds, zigzag sint32
    scale/offset, nested Buckets, ValueAtQuantile — every binary
    metrics shape exercised, landing on the same flat rows the JSON
    twin pins (proto3 presence defaults documented in the decoder)."""
    from .sources.otlp import (
        decode_otlp_metrics_protobuf,
        encode_otlp_metrics_protobuf,
    )

    i = F.col("event_id")
    m = (i % 5).cast("int")
    ev = load(spark, sf, "events").select(
        F.element_at(
            F.array(
                F.lit("gauge"), F.lit("sum"), F.lit("histogram"),
                F.lit("exponential_histogram"), F.lit("summary"),
            ),
            m + 1,
        ).alias("metric_type"),
        F.concat(F.lit("m"), m.cast("string"), F.lit("_"),
                 (i % 3).cast("string")).alias("metric_name"),
        (F.lit(1_700_000_000_000_000_000) + i).alias("time_unix_nano"),
        (F.lit(1_700_000_000_000_000_000) + i).alias("start_time_unix_nano"),
        F.when(m == 0, i.cast("double") / 4).alias("value_double"),
        F.when(m == 1, i).cast("long").alias("value_long"),
        F.when(m == 2, i % 7 + 3)
        .when(m == 3, i % 5 + 2)
        .when(m == 4, i % 9 + 1)
        .cast("long")
        .alias("count"),
        F.when(m.isin(2, 3, 4), i.cast("double") / 2).alias("sum"),
        F.when(m == 2, F.lit(0.5)).alias("min"),
        F.when(m == 2, F.lit(9.5)).alias("max"),
        F.when(m == 2, F.array(F.lit(1.0), F.lit(2.0))).alias("bounds"),
        F.when(
            m == 2, F.array((i % 3), (i % 5), F.lit(1)).cast("array<long>")
        ).alias("bucket_counts"),
        F.when(m == 3, F.lit(1)).cast("int").alias("scale"),
        F.when(m == 3, i % 2).cast("long").alias("zero_count"),
        F.when(m == 3, (i % 3)).cast("int").alias("pos_offset"),
        F.when(m == 3, F.array(i % 4 + 1, F.lit(2)).cast("array<long>")).alias(
            "pos_bucket_counts"
        ),
        F.when(m == 3, F.lit(0)).cast("int").alias("neg_offset"),
        F.when(m == 3, F.array(F.lit(1)).cast("array<long>")).alias(
            "neg_bucket_counts"
        ),
        F.when(m == 4, F.array(F.lit(0.5), F.lit(0.9))).alias("q_quantiles"),
        F.when(
            m == 4,
            F.array((i % 3).cast("double"), (i % 7).cast("double")),
        ).alias("q_values"),
        F.when(m.isin(1, 2, 3), F.lit(2)).cast("int").alias("temporality"),
        F.when(m == 1, F.lit(True)).alias("is_monotonic"),
        F.create_map(F.lit("k"), (i % 6).cast("string")).alias("attributes"),
        F.concat(F.lit("svc-"), (F.col("user_id") % 2).cast("string")).alias(
            "service_name"
        ),
        F.lit("lib").alias("scope_name"),
    )
    dec = decode_otlp_metrics_protobuf(encode_otlp_metrics_protobuf(ev))
    arr_str = lambda c: F.concat_ws(  # noqa: E731
        ",", F.transform(F.col(c), lambda x: x.cast("string"))
    )
    return dec.select(
        "metric_type",
        "metric_name",
        "time_unix_nano",
        F.coalesce(
            F.col("value_double").cast("string"),
            F.col("value_long").cast("string"),
        ).alias("val_str"),
        "count",
        "sum",
        F.when(F.col("bounds").isNotNull(), arr_str("bounds")).alias(
            "bounds_str"
        ),
        F.when(
            F.col("bucket_counts").isNotNull(), arr_str("bucket_counts")
        ).alias("buckets_str"),
        "scale",
        "zero_count",
        F.when(
            F.col("pos_bucket_counts").isNotNull(),
            arr_str("pos_bucket_counts"),
        ).alias("pos_str"),
        F.when(F.col("q_values").isNotNull(), arr_str("q_values")).alias(
            "qv_str"
        ),
        "temporality",
        F.when(F.col("metric_type") == "sum", F.col("is_monotonic")).alias(
            "is_monotonic"
        ),
        F.element_at("resource_attrs", F.lit("service_name")).alias("svc"),
        F.element_at("attributes", F.lit("k")).alias("attr_k"),
    )


@register(
    "otlp_metrics_exemplars",
    """
    WITH pts AS (
      SELECT event_id AS i,
             CAST(event_id % 4 AS INTEGER) AS m,
             1700000000000000000 + event_id AS t
      FROM events
    )
    SELECT ['gauge','sum','histogram','exponential_histogram'][m + 1]
               AS metric_type,
           'm' || m AS metric_name,
           CAST(t AS BIGINT) AS time_unix_nano,
           CAST(j AS INTEGER) AS ex_idx,
           CAST(CASE WHEN j = 0 THEN t - 1 ELSE t END AS BIGINT) AS ex_time,
           CASE WHEN j = 0 THEN i / 8.0 END AS ex_value_double,
           CAST(CASE WHEN j = 1 THEN i % 100 - 50 END AS BIGINT)
               AS ex_value_long,
           CASE WHEN j = 0 THEN lower(lpad(to_hex(i), 32, '0')) END
               AS ex_trace_id,
           CASE WHEN j = 0 THEN lower(lpad(to_hex(i * 3), 16, '0')) END
               AS ex_span_id
    FROM pts CROSS JOIN (VALUES (0), (1)) AS v(j)
    """,
)
def q_otlp_metrics_exemplars(spark: SparkSession, sf: str) -> DataFrame:
    """Exemplars over the metrics protobuf wire — the metric->trace
    link APM backends resolve (spanmetrics exemplars): every non-summary
    point type carries two closed-form Exemplar messages (one as_double
    with trace/span ids, one NEGATIVE as_int without — sfixed64 +
    bytes-id wire shapes), round-trips through
    encode/decode_otlp_metrics_protobuf, and is exploded back flat.
    The oracle restates the closed form per (point, exemplar index);
    any wire loss (dropped exemplar, sign corruption, id truncation)
    breaks the hash.  functions/protowire.py::_enc_exemplar/
    _dec_exemplar; field numbers from the public metrics.proto."""
    from .sources.otlp import (
        decode_otlp_metrics_protobuf,
        encode_otlp_metrics_protobuf,
    )

    i = F.col("event_id")
    m = (i % 4).cast("int")
    t = F.lit(1_700_000_000_000_000_000) + i
    ex1 = F.struct(
        (t - 1).alias("time_unix_nano"),
        (i.cast("double") / 8).alias("value_double"),
        F.lit(None).cast("long").alias("value_long"),
        F.lower(F.lpad(F.hex(i), 32, "0")).alias("trace_id"),
        F.lower(F.lpad(F.hex(i * 3), 16, "0")).alias("span_id"),
    )
    ex2 = F.struct(
        t.alias("time_unix_nano"),
        F.lit(None).cast("double").alias("value_double"),
        (i % 100 - 50).cast("long").alias("value_long"),
        F.lit(None).cast("string").alias("trace_id"),
        F.lit(None).cast("string").alias("span_id"),
    )
    ev = load(spark, sf, "events").select(
        F.element_at(
            F.array(
                F.lit("gauge"), F.lit("sum"), F.lit("histogram"),
                F.lit("exponential_histogram"),
            ),
            m + 1,
        ).alias("metric_type"),
        F.concat(F.lit("m"), m.cast("string")).alias("metric_name"),
        t.alias("time_unix_nano"),
        F.when(m <= 1, i.cast("double") / 4).alias("value_double"),
        F.when(m >= 2, i % 7 + 1).cast("long").alias("count"),
        F.when(m == 3, F.array(F.lit(1)).cast("array<long>")).alias(
            "pos_bucket_counts"
        ),
        F.array(ex1, ex2).alias("exemplars"),
        F.lit("svc").alias("service_name"),
        F.lit("lib").alias("scope_name"),
    )
    dec = decode_otlp_metrics_protobuf(encode_otlp_metrics_protobuf(ev))
    return dec.select(
        "metric_type",
        "metric_name",
        "time_unix_nano",
        F.posexplode("exemplars").alias("ex_idx", "ex"),
    ).select(
        "metric_type",
        "metric_name",
        "time_unix_nano",
        "ex_idx",
        F.col("ex.time_unix_nano").alias("ex_time"),
        F.col("ex.value_double").alias("ex_value_double"),
        F.col("ex.value_long").alias("ex_value_long"),
        F.col("ex.trace_id").alias("ex_trace_id"),
        F.col("ex.span_id").alias("ex_span_id"),
    )


@register(
    "otlp_traces_events_links",
    """
    SELECT lower(lpad(to_hex(event_id), 16, '0')) AS span_id,
           CAST(1700000000000000000 + event_id * 10 + 5 AS BIGINT)
               AS ev_time,
           'ev-' || event_type AS ev_name,
           CAST(event_id % 4 AS VARCHAR) AS ev_attr,
           lower(lpad(to_hex(user_id + 1), 32, '0')) AS link_trace_id,
           lower(lpad(to_hex(event_id * 13), 16, '0')) AS link_span_id,
           CAST(event_id % 3 AS VARCHAR) AS link_attr
    FROM events
    """,
)
def q_otlp_traces_events_links(spark: SparkSession, sf: str) -> DataFrame:
    """Span events + links over the traces protobuf wire (Span fields
    11/13, public trace.proto: Event{fixed64 time, name, KeyValue
    attrs}, Link{bytes trace/span ids, KeyValue attrs}) — the
    exception-event and batch-consumer-link shapes APM backends
    render.  Closed-form spans each carry one event and one link;
    the oracle restates both per span, so a dropped/mangled nested
    message breaks the hash."""
    from .sources.otlp import (
        decode_otlp_traces_protobuf,
        encode_otlp_traces_protobuf,
    )

    i = F.col("event_id")
    ev = load(spark, sf, "events").select(
        F.lower(F.lpad(F.hex(F.col("user_id")), 32, "0")).alias("trace_id"),
        F.lower(F.lpad(F.hex(i), 16, "0")).alias("span_id"),
        F.concat(F.lit("op-"), F.col("event_type")).alias("name"),
        (F.lit(1_700_000_000_000_000_000) + i * 10).alias(
            "start_time_unix_nano"
        ),
        (F.lit(1_700_000_000_000_000_000) + i * 10 + 9).alias(
            "end_time_unix_nano"
        ),
        F.array(
            F.struct(
                (F.lit(1_700_000_000_000_000_000) + i * 10 + 5).alias(
                    "time_unix_nano"
                ),
                F.concat(F.lit("ev-"), F.col("event_type")).alias("name"),
                F.create_map(F.lit("p"), (i % 4).cast("string")).alias(
                    "attributes"
                ),
            )
        ).alias("events"),
        F.array(
            F.struct(
                F.lower(F.lpad(F.hex(F.col("user_id") + 1), 32, "0")).alias(
                    "trace_id"
                ),
                F.lower(F.lpad(F.hex(i * 13), 16, "0")).alias("span_id"),
                F.create_map(F.lit("q"), (i % 3).cast("string")).alias(
                    "attributes"
                ),
            )
        ).alias("links"),
        F.lit("svc").alias("service_name"),
        F.lit("tracer").alias("scope_name"),
    )
    dec = decode_otlp_traces_protobuf(encode_otlp_traces_protobuf(ev))
    e1 = F.element_at("events", 1)
    l1 = F.element_at("links", 1)
    return dec.select(
        "span_id",
        e1.getField("time_unix_nano").alias("ev_time"),
        e1.getField("name").alias("ev_name"),
        F.element_at(e1.getField("attributes"), F.lit("p")).alias("ev_attr"),
        l1.getField("trace_id").alias("link_trace_id"),
        l1.getField("span_id").alias("link_span_id"),
        F.element_at(l1.getField("attributes"), F.lit("q")).alias(
            "link_attr"
        ),
    )


def _bowtie_oracle() -> str:
    cap = 8
    return f"""
    WITH RECURSIVE edges AS (
        SELECT DISTINCT s, d FROM (
            SELECT src_host AS s, dst_host AS d
            FROM ({ORACLE_SQL["webgraph_host_edges"]}) t
            UNION ALL
            SELECT * FROM (VALUES
                ('insrc.test', 'in7.test'),
                ('in7.test', 'd0.example.org'),
                ('in7.test', 'tx.test'),
                ('in7.test', 'tube.test'),
                ('tube.test', 'b0.example.net'),
                ('ty.test', 'b0.example.net'),
                ('z1.test', 'z2.test')
            ) v(s, d)
        )
    ), und AS (
        SELECT s, d FROM edges UNION SELECT d, s FROM edges
    ), nodes AS (
        SELECT DISTINCT s AS n FROM und
    ), pvt AS (
        SELECT s AS n FROM und GROUP BY s
        ORDER BY COUNT(*) DESC, s LIMIT 1
    ), fwd AS (
        SELECT n, 0 AS dp FROM pvt
        UNION
        SELECT e.d, f.dp + 1 FROM fwd f JOIN edges e ON e.s = f.n
        WHERE f.dp < {cap}
    ), bwd AS (
        SELECT n, 0 AS dp FROM pvt
        UNION
        SELECT e.s, b.dp + 1 FROM bwd b JOIN edges e ON e.d = b.n
        WHERE b.dp < {cap}
    ), weak AS (
        SELECT n, 0 AS dp FROM pvt
        UNION
        SELECT u.d, w.dp + 1 FROM weak w JOIN und u ON u.s = w.n
        WHERE w.dp < {cap}
    ), fset AS (SELECT DISTINCT n FROM fwd),
    bset AS (SELECT DISTINCT n FROM bwd),
    scc AS (SELECT f.n FROM fset f JOIN bset b USING (n)),
    inset AS (
        SELECT n FROM bset WHERE n NOT IN (SELECT n FROM scc)
    ), outset AS (
        SELECT n FROM fset WHERE n NOT IN (SELECT n FROM scc)
    ),
    wset AS (SELECT DISTINCT n FROM weak),
    efree AS (
        SELECT s, d FROM edges
        WHERE s NOT IN (SELECT n FROM scc)
          AND d NOT IN (SELECT n FROM scc)
    ), tfr AS (
        SELECT n, 0 AS dp FROM inset
        UNION
        SELECT e.d, t.dp + 1 FROM tfr t JOIN efree e ON e.s = t.n
        WHERE t.dp < {cap}
    ), tbr AS (
        SELECT n, 0 AS dp FROM outset
        UNION
        SELECT e.s, t.dp + 1 FROM tbr t JOIN efree e ON e.d = t.n
        WHERE t.dp < {cap}
    ), tfset AS (SELECT DISTINCT n FROM tfr),
    tbset AS (SELECT DISTINCT n FROM tbr)
    SELECT n AS node,
           CASE WHEN n IN (SELECT n FROM scc) THEN 'SCC'
                WHEN n IN (SELECT n FROM inset) THEN 'IN'
                WHEN n IN (SELECT n FROM outset) THEN 'OUT'
                WHEN n NOT IN (SELECT n FROM wset) THEN 'DISCONNECTED'
                WHEN n IN (SELECT n FROM tfset)
                     AND n IN (SELECT n FROM tbset) THEN 'TUBE'
                WHEN n IN (SELECT n FROM tfset) THEN 'TENDRIL_IN'
                WHEN n IN (SELECT n FROM tbset) THEN 'TENDRIL_OUT'
                ELSE 'OTHER' END AS component
    FROM nodes
    """


@register("webgraph_bowtie", _bowtie_oracle())
def q_webgraph_bowtie(spark: SparkSession, sf: str) -> DataFrame:
    """Broder bow-tie census of the extracted host graph
    (operators/webgraph.py::bowtie_decomposition — "Graph structure in
    the Web", WWW 2000): SCC/IN/OUT/TUBE/TENDRIL/DISCONNECTED class
    per host via five capped frontier-BFS walks from the deterministic
    max-degree pivot.  The oracle replays the identical construction
    with recursive CTEs under the same 8-hop cap, so pivot choice,
    reachability truncation, and class precedence all match exactly."""
    from .operators.webgraph import bowtie_decomposition, host_link_edges
    from .sources.pages import generate_linked_pages

    edges = host_link_edges(
        generate_linked_pages(spark, 4000, replayable=True)
    ).select("src_host", "dst_host")
    # deterministic periphery grafted onto the (dense) extracted core so
    # the census exercises IN / TUBE / TENDRIL / DISCONNECTED classes,
    # not just SCC+OUT: an IN chain into core host d0, a tendril off
    # IN, an IN->OUT tube through b0, a tendril into OUT, and an
    # isolated pair.  The oracle unions the identical VALUES rows.
    periphery = spark.createDataFrame(
        [
            ("insrc.test", "in7.test"),
            ("in7.test", "d0.example.org"),
            ("in7.test", "tx.test"),
            ("in7.test", "tube.test"),
            ("tube.test", "b0.example.net"),
            ("ty.test", "b0.example.net"),
            ("z1.test", "z2.test"),
        ],
        "src_host string, dst_host string",
    )
    return bowtie_decomposition(edges.unionByName(periphery), max_rounds=8)


@register(
    "cef_decode_roundtrip",
    """
    SELECT '0' AS cef_version,
           'ACME' AS device_vendor,
           'fw' AS device_product,
           '1.' || (event_id % 3) AS device_version,
           'sig|' || event_type AS signature_id,
           'evt=' || event_id AS name,
           CAST(event_id % 11 AS VARCHAR) AS severity,
           '10.0.' || (event_id % 256) || '.' || (event_id % 100) AS src,
           event_type || ' =| ' || (event_id % 5) AS msg,
           CAST(event_id % 65535 AS VARCHAR) AS spt
    FROM events
    """,
)
def q_cef_decode_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """ArcSight CEF wire round trip (sources/decoders.py::encode_cef /
    ::decode_cef — the SIEM intake format beside syslog/logfmt/grok):
    closed-form events with deliberately hostile values (pipes in
    header fields, equals and pipes and spaces inside extension
    values) ride the spec's asymmetric escaping and must land back on
    the raw values; the oracle restates the closed form, so an escape
    defect on either side breaks the hash.  All RE2-compatible JVM
    regexps — one scan, whole-stage codegen."""
    from .sources.decoders import decode_cef, encode_cef

    i = F.col("event_id")
    lines = load(spark, sf, "events").select(
        encode_cef(
            F.lit("ACME"),
            F.lit("fw"),
            F.concat(F.lit("1."), (i % 3).cast("string")),
            F.concat(F.lit("sig|"), F.col("event_type")),
            F.concat(F.lit("evt="), i.cast("string")),
            (i % 11).cast("string"),
            {
                "src": F.concat(
                    F.lit("10.0."), (i % 256).cast("string"), F.lit("."),
                    (i % 100).cast("string"),
                ),
                "msg": F.concat(
                    F.col("event_type"), F.lit(" =| "),
                    (i % 5).cast("string"),
                ),
                "spt": (i % 65535).cast("string"),
            },
        ).alias("value")
    )
    return decode_cef(lines, ["src", "msg", "spt"]).drop("value")


# ---------------------------------------------------------------------------
# Gorilla TSDB chunk round trip: per-series delta-of-delta + XOR bit packing
# (functions/gorilla.py, operators/tsdb.py — the storage hop behind the
# lsminterval merge).  The Spark side must survive a REAL encode -> binary
# chunk -> decode loop; the oracle regenerates the expected sample multiset
# from the same modular arithmetic.  Values are exact binary fractions
# (/8.0) so double equality is engine-independent.
# ---------------------------------------------------------------------------
@register(
    "gorilla_chunk_roundtrip",
    """
    SELECT CAST(user_id % 8 AS VARCHAR) AS series,
           1767225600000 + event_id AS ts_ms,
           CASE WHEN event_id % 5 = 0 THEN 42.0
                ELSE (event_id % 97) / 8.0 - 3.0 END AS value
    FROM events
    """,
)
def q_gorilla_chunk_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.tsdb import decode_gorilla_chunks, encode_gorilla_chunks

    ev = load(spark, sf, "events").select(
        F.pmod(F.col("user_id"), F.lit(8)).cast("string").alias("series"),
        (F.lit(1767225600000) + F.col("event_id")).alias("ts_ms"),
        F.when(F.pmod(F.col("event_id"), F.lit(5)) == 0, F.lit(42.0))
        .otherwise(
            F.pmod(F.col("event_id"), F.lit(97)).cast("double") / 8.0 - 3.0
        )
        .alias("value"),
    )
    chunks = encode_gorilla_chunks(ev, ["series"], max_samples=512)
    return decode_gorilla_chunks(chunks, ["series"])


# ---------------------------------------------------------------------------
# LZ4 block transport round trip: the Beats/Kafka shipper compression hop
# (functions/lz4_codec.py + sources/decoders.py::lz4_{pack,unpack}_bodies).
# The Spark side must survive a REAL compress -> binary -> decompress loop
# over per-record bodies; the oracle regenerates the expected lines.
# ---------------------------------------------------------------------------
@register(
    "lz4_transport_roundtrip",
    """
    SELECT event_id,
           'evt=' || event_type || ' user=' || (user_id % 100)
               || ' seq=' || (event_id % 997)
               || ' pad=' || repeat('ab', event_id % 40) AS line
    FROM events
    """,
)
def q_lz4_transport_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    from .sources.decoders import lz4_pack_bodies, lz4_unpack_bodies

    ev = load(spark, sf, "events").select(
        "event_id",
        F.encode(
            F.concat(
                F.lit("evt="), F.col("event_type"),
                F.lit(" user="), F.pmod(F.col("user_id"), F.lit(100)).cast("string"),
                F.lit(" seq="), F.pmod(F.col("event_id"), F.lit(997)).cast("string"),
                F.lit(" pad="),
                F.repeat(F.lit("ab"), F.pmod(F.col("event_id"), F.lit(40)).cast("int")),
            ),
            "utf-8",
        ).alias("body"),
    )
    back = lz4_unpack_bodies(lz4_pack_bodies(ev, "body"), "body")
    return back.select("event_id", F.decode(F.col("body"), "utf-8").alias("line"))


# ---------------------------------------------------------------------------
# Readability scores (Flesch / FK grade / ARI / Coleman-Liau) — the classic
# document-quality readouts beside text_quality's ratio features.  Counts
# are plain-character-class regex (Java regex == RE2 == DuckDB); formulas
# restate with the same operation order, rounded to 4dp for hashing.
# ---------------------------------------------------------------------------
def _readability_oracle() -> str:
    from .functions.textstats import readability_oracle_exprs

    t = "(text || '. End ' || CAST(doc_id % 5 AS VARCHAR) || '! ok?')"
    e = readability_oracle_exprs(t)
    # scores emitted as half-up milli-units (FLOOR(x*1000 + 0.5), BIGINT):
    # ROUND-at-4dp diverges between engines exactly at decimal .5
    # boundaries (Spark rounds the BigDecimal expansion HALF_UP, DuckDB
    # rounds the double), while FLOOR over identical IEEE ops cannot
    milli = lambda x: f"CAST(FLOOR(({x}) * 1000 + 0.5) AS BIGINT)"  # noqa: E731
    return f"""
    SELECT doc_id,
           {e['n_letters']} AS n_letters,
           {e['n_words']} AS n_words,
           {e['n_sentences']} AS n_sentences,
           {e['n_syllables']} AS n_syllables,
           {milli(e['flesch_ease'])} AS flesch_ease_milli,
           {milli(e['fk_grade'])} AS fk_grade_milli,
           {milli(e['ari'])} AS ari_milli,
           {milli(e['coleman_liau'])} AS coleman_liau_milli
    FROM documents
    """


@register("text_readability", _readability_oracle())
def q_text_readability(spark: SparkSession, sf: str) -> DataFrame:
    from .functions.textstats import readability_scores

    docs = load(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(". End "),
            F.pmod(F.col("doc_id"), F.lit(5)).cast("string"), F.lit("! ok?"),
        ).alias("t"),
    )
    s = readability_scores(F.col("t"))
    milli = lambda c: F.floor(c * 1000 + F.lit(0.5)).cast("long")  # noqa: E731
    return docs.select(
        "doc_id",
        s["n_letters"].alias("n_letters"),
        s["n_words"].alias("n_words"),
        s["n_sentences"].alias("n_sentences"),
        s["n_syllables"].alias("n_syllables"),
        milli(s["flesch_ease"]).alias("flesch_ease_milli"),
        milli(s["fk_grade"]).alias("fk_grade_milli"),
        milli(s["ari"]).alias("ari_milli"),
        milli(s["coleman_liau"]).alias("coleman_liau_milli"),
    )


# ---------------------------------------------------------------------------
# IDN host decode (RFC 3492 Punycode, functions/punycode.py): the corpus
# host hygiene step that folds xn-- spellings onto the Unicode form.  The
# fixture hosts are built AT REGISTRATION by our own encoder, so the Spark
# side must survive a real encode -> xn-- -> decode loop; the oracle maps
# the same index arithmetic onto literal expected strings.
# ---------------------------------------------------------------------------
def _idn_fixture() -> tuple[list[str], list[str]]:
    from .functions.punycode import idn_encode_host

    plain = ["münchen", "日本語", "россия", "café", "plain", "bücher"]
    dec = [f"{w}.example.com" for w in plain]
    enc = [idn_encode_host(h) for h in dec]
    return enc, dec


def _idn_oracle() -> str:
    enc, dec = _idn_fixture()
    case_enc = " ".join(f"WHEN {i} THEN '{h}'" for i, h in enumerate(enc))
    case_dec = " ".join(f"WHEN {i} THEN '{h}'" for i, h in enumerate(dec))
    return f"""
    SELECT event_id,
           CASE user_id % 6 {case_enc} END AS host,
           CASE user_id % 6 {case_dec} END AS host_unicode
    FROM events
    """


@register("idn_host_decode", _idn_oracle())
def q_idn_host_decode(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.urls import with_idn_host

    enc, _ = _idn_fixture()
    ev = load(spark, sf, "events").select(
        "event_id",
        F.element_at(
            F.array(*[F.lit(h) for h in enc]),
            (F.pmod(F.col("user_id"), F.lit(6)) + 1).cast("int"),
        ).alias("host"),
    )
    return with_idn_host(ev, "host")


# ---------------------------------------------------------------------------
# Streaming Misra-Gries heavy hitters (streaming/heavyhitters.py): bounded
# per-shard counter state across micro-batches.  A single availableNow
# drain equals the closed-form compaction the oracle restates (exact
# counts minus the (k+1)-th largest, positives kept); the cross-batch
# state path is pinned in tests/test_heavyhitters.py.
# ---------------------------------------------------------------------------
def _mg_oracle() -> str:
    from .streaming.heavyhitters import misra_gries_oracle_sql

    # shard is a FUNCTION OF THE ITEM identity ((user_id % 150) % 4), so
    # every item maps to exactly one shard — the operator's precondition
    items = """
        SELECT (user_id % 150) % 4 AS shard,
               CASE WHEN event_id % 3 = 0 THEN 'hot-' || ((user_id % 150) % 4)
                    ELSE 'u' || (user_id % 150) END AS item
        FROM events
    """
    return misra_gries_oracle_sql(items, "item", "shard", k=12)


@register("streaming_heavy_hitters", _mg_oracle())
def q_streaming_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    from .streaming.heavyhitters import streaming_misra_gries

    import shutil
    import tempfile

    schema = spark.read.parquet(f"{sf}/events.parquet").schema
    src = tempfile.mkdtemp(prefix="mg_replay_")
    shutil.copyfile(f"{sf}/events.parquet", f"{src}/batch0.parquet")
    stream = spark.readStream.schema(schema).parquet(src)
    uid150 = F.pmod(F.col("user_id"), F.lit(150))
    items = stream.select(
        F.pmod(uid150, F.lit(4)).alias("shard"),
        F.when(
            F.pmod(F.col("event_id"), F.lit(3)) == 0,
            F.concat(F.lit("hot-"), F.pmod(uid150, F.lit(4)).cast("string")),
        )
        .otherwise(F.concat(F.lit("u"), uid150.cast("string")))
        .alias("item"),
    )
    mg = streaming_misra_gries(items, "item", k=12, shard_col="shard")
    try:
        return _run_stream_gate(
            spark, mg, "stream_gate_heavy_hitters", mode="update"
        )
    finally:
        shutil.rmtree(src, ignore_errors=True)


# ---------------------------------------------------------------------------
# SymSpell delete-neighborhood spell correction (operators/spell.py): the
# corpus vocabulary is the dictionary; queries are three deterministic
# corruptions of every vocab term (delete-last, substitute-first,
# append).  Both engines replay the same neighborhoods, verify and policy.
# ---------------------------------------------------------------------------
def _spell_oracle() -> str:
    from .operators.spell import spell_correct_oracle_sql

    vocab = """
        SELECT term, COUNT(*) AS freq FROM (
            SELECT UNNEST(string_split(text, ' ')) AS term FROM documents
        ) t WHERE LENGTH(term) > 0 GROUP BY term
    """
    queries = f"""
        SELECT DISTINCT q FROM (
            SELECT substring(term, 1, LENGTH(term) - 1) AS q FROM ({vocab}) v1
            UNION ALL
            SELECT 'x' || substring(term, 2, 1000000) FROM ({vocab}) v2
            UNION ALL
            SELECT term || 'q' FROM ({vocab}) v3
        ) u WHERE LENGTH(q) > 0
    """
    return spell_correct_oracle_sql(queries, vocab)


@register("spell_correct_vocab", _spell_oracle())
def q_spell_correct_vocab(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.spell import spell_correct

    docs = load(spark, sf, "documents")
    toks = docs.select(F.explode(F.split(F.col("text"), " ")).alias("term")).where(
        F.length("term") > 0
    )
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("freq"))
    t = F.col("term")
    corrupted = (
        vocab.select(F.expr("substring(term, 1, length(term) - 1)").alias("q"))
        .unionAll(
            vocab.select(
                F.concat(F.lit("x"), F.expr("substring(term, 2, 1000000)")).alias("q")
            )
        )
        .unionAll(vocab.select(F.concat(t, F.lit("q")).alias("q")))
        .where(F.length("q") > 0)
        .distinct()
    )
    return spell_correct(corrupted, vocab)


# ---------------------------------------------------------------------------
# GELF chunked-datagram decode (sources/gelf.py): every message is gzip-
# compressed, split into ~4 datagrams and reassembled by message id before
# inflation — a REAL chunk/shuffle/reassemble/inflate/parse loop.  The
# oracle regenerates the message fields from the closed form; any wire,
# reassembly or JSON defect breaks the hash.
# ---------------------------------------------------------------------------
@register(
    "gelf_decode_chunked",
    """
    SELECT printf('%016x', event_id) AS message_id,
           TRUE AS valid,
           '1.1' AS version,
           'h' || (user_id % 20) AS host,
           'msg ' || event_id || ' ' || repeat('x', CAST(event_id % 40 AS INT))
               AS short_message,
           CAST(1767225600 + event_id % 86400 AS DOUBLE) AS ts_sec,
           CAST(event_id % 8 AS BIGINT) AS level,
           'f' || (event_id % 4) AS facility
    FROM events
    """,
)
def q_gelf_decode_chunked(spark: SparkSession, sf: str) -> DataFrame:
    from .sources.gelf import decode_gelf_datagrams, generate_gelf_bodies

    ev = load(spark, sf, "events")
    grams = generate_gelf_bodies(ev, chunk_size=24)
    out = decode_gelf_datagrams(grams)
    return out.select(
        "message_id",
        "valid",
        "version",
        "host",
        "short_message",
        F.col("timestamp").alias("ts_sec"),
        "level",
        F.col("_facility").alias("facility"),
    )


# ---------------------------------------------------------------------------
# KMV bottom-k distinct sketch + set algebra (operators/kmv.py) — the
# mergeable distinct sketch that supports DIRECT union/intersection/Jaccard
# (theta-sketch family), beside HLL's inclusion-exclusion.  All estimates
# are exact integer arithmetic over the house md5-60bit hash, replayed
# bit-for-bit by the oracle.
# ---------------------------------------------------------------------------
@register(
    "kmv_distinct_users",
    """
    WITH h AS (
        SELECT DISTINCT event_type,
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                    AS BIGINT) AS h
        FROM events WHERE user_id IS NOT NULL
    ),
    r AS (
        SELECT event_type, h,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM h
    ),
    g AS (
        SELECT event_type, COUNT(*) AS nd,
               MAX(CASE WHEN rn = 64 THEN h END) AS h64
        FROM r GROUP BY 1
    )
    SELECT event_type,
           CAST(LEAST(nd, 64) AS INT) AS sketch_size,
           CAST(CASE WHEN nd < 64 THEN nd
                ELSE CAST((CAST(63 AS HUGEINT) * 1152921504606846976) // h64
                          AS BIGINT) END AS BIGINT) AS kmv_est,
           CAST(nd AS BIGINT) AS exact_distinct
    FROM g
    """,
)
def q_kmv_distinct_users(spark: SparkSession, sf: str) -> DataFrame:
    """KMV bottom-k distinct sketch (operators/kmv.py::kmv_build):
    per-event-type distinct-user estimate from the 64 smallest md5-60bit
    hashes — one distinct + one skew-proof top-N over the corpus, then
    the estimate is a projection over |groups| rows.  The exact distinct
    rides along so the gate pins BOTH the sketch construction and its
    accuracy envelope; the oracle replays hash, rank cut, and the
    DECIMAL-product truncating division bit-for-bit."""
    from .operators.kmv import kmv_build, kmv_estimate

    ev = load(spark, sf, "events")
    sk = kmv_build(ev, ["event_type"], "user_id", 64)
    exact = (
        ev.where(F.col("user_id").isNotNull())
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
    )
    return sk.join(exact, "event_type").select(
        "event_type",
        F.size("sig").cast("int").alias("sketch_size"),
        kmv_estimate("sig", 64).alias("kmv_est"),
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
    )


@register(
    "kmv_set_overlap",
    """
    WITH ha AS (
        SELECT DISTINCT event_type,
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                    AS BIGINT) AS h
        FROM events WHERE user_id IS NOT NULL AND event_id % 2 = 0
    ),
    hb AS (
        SELECT DISTINCT event_type,
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                    AS BIGINT) AS h
        FROM events WHERE user_id IS NOT NULL AND event_id % 2 = 1
    ),
    sa AS (
        SELECT event_type, h FROM (
            SELECT event_type, h,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) rn
            FROM ha) WHERE rn <= 64
    ),
    sb AS (
        SELECT event_type, h FROM (
            SELECT event_type, h,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) rn
            FROM hb) WHERE rn <= 64
    ),
    x AS (
        SELECT event_type, h, rn FROM (
            SELECT event_type, h,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) rn
            FROM (SELECT event_type, h FROM sa
                  UNION SELECT event_type, h FROM sb)) WHERE rn <= 64
    ),
    m AS (
        SELECT event_type, CAST(COUNT(*) AS INT) AS sketch_size,
               MAX(CASE WHEN rn = 64 THEN h END) AS h64
        FROM x GROUP BY 1
    ),
    i AS (
        SELECT x.event_type, COUNT(*) AS c
        FROM x
        JOIN sa ON x.event_type = sa.event_type AND x.h = sa.h
        JOIN sb ON x.event_type = sb.event_type AND x.h = sb.h
        GROUP BY 1
    ),
    u AS (
        -- inner-join semantics of kmv_set_stats: groups must appear in
        -- BOTH halves' sketch tables or they emit no row
        SELECT m.event_type, m.sketch_size,
               CAST(CASE WHEN m.sketch_size < 64 THEN m.sketch_size
                    ELSE CAST((CAST(63 AS HUGEINT) * 1152921504606846976)
                              // m.h64 AS BIGINT) END AS BIGINT) AS union_est,
               CAST(COALESCE(i.c, 0) AS INT) AS inter_hits
        FROM m
        JOIN (SELECT DISTINCT event_type FROM sa) ga
            ON m.event_type = ga.event_type
        JOIN (SELECT DISTINCT event_type FROM sb) gb
            ON m.event_type = gb.event_type
        LEFT JOIN i ON m.event_type = i.event_type
    )
    SELECT event_type, union_est, sketch_size, inter_hits,
           CAST(CAST(inter_hits AS BIGINT) * 1000000 // sketch_size
                AS BIGINT) AS jaccard_micro,
           CAST((CAST(inter_hits AS HUGEINT) * union_est) // sketch_size
                AS BIGINT) AS inter_est
    FROM u
    """,
)
def q_kmv_set_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """KMV set algebra (operators/kmv.py::kmv_set_stats): audience overlap
    between the even- and odd-event_id halves per event_type — the k
    smallest of the two signatures' union is itself a KMV sketch of the
    set union, and its overlap fraction is the Jaccard estimate (Beyer et
    al., SIGMOD 2007), no inclusion-exclusion error stacking.  Signatures
    are ≤k arrays, so union/intersection are JVM array expressions over
    |groups| rows; the oracle replays every rank cut and truncating
    division."""
    from .operators.kmv import kmv_build, kmv_set_stats

    ev = load(spark, sf, "events")
    a = kmv_build(ev.where("event_id % 2 = 0"), ["event_type"], "user_id", 64)
    b = kmv_build(ev.where("event_id % 2 = 1"), ["event_type"], "user_id", 64)
    return kmv_set_stats(a, b, ["event_type"], 64).select(
        "event_type",
        "union_est",
        "sketch_size",
        "inter_hits",
        "jaccard_micro",
        "inter_est",
    )


# ---------------------------------------------------------------------------
# Zone-map file skipping (operators/skipping.py) — min/max scan pruning as a
# first-class planner operator, plus the measured payoff of zorder_key
# layout: the same rows filed by time answer a user-range predicate by
# reading everything; z-order-prefix files skip 7/8 of the corpus.
# ---------------------------------------------------------------------------
from .operators.layout import zorder_sql as _zsql  # noqa: E402


@register(
    "zonemap_file_skipping",
    """
    WITH f AS (
        SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 43200 AS file_id,
               user_id, event_id
        FROM events
    ),
    s AS (
        SELECT file_id, COUNT(*) AS n_rows,
               MIN(user_id) AS user_id_min, MAX(user_id) AS user_id_max,
               MIN(event_id) AS event_id_min, MAX(event_id) AS event_id_max
        FROM f GROUP BY 1
    )
    SELECT file_id, CAST(n_rows AS BIGINT) AS n_rows,
           user_id_min, user_id_max, event_id_min, event_id_max,
           (user_id_min IS NOT NULL AND user_id_max >= 40
            AND user_id_min <= 59
            AND event_id_min IS NOT NULL AND event_id_max >= 2000
            AND event_id_min <= 2999) AS must_read
    FROM s
    """,
)
def q_zonemap_file_skipping(spark: SparkSession, sf: str) -> DataFrame:
    """Zone-map pruning decisions (operators/skipping.py): 12-hour files
    over events, per-file min/max envelopes on (user_id, event_id), and
    the must_read verdict for a conjunctive range workload — the planner
    step parquet row-group stats / Iceberg manifest summaries feed at
    100 TB, O(|files|) regardless of data size.  The oracle replays the
    envelope build and every overlap comparison."""
    from .operators.skipping import file_stats, prune_scan

    ev = load(spark, sf, "events").withColumn(
        "file_id", F.expr("unix_timestamp(ts) div 43200")
    )
    stats = file_stats(ev, "file_id", ["user_id", "event_id"])
    return prune_scan(
        stats, [("user_id", 40, 59), ("event_id", 2000, 2999)]
    ).select(
        "file_id",
        "n_rows",
        "user_id_min",
        "user_id_max",
        "event_id_min",
        "event_id_max",
        "must_read",
    )


@register(
    "zonemap_layout_compare",
    f"""
    WITH base AS (
        SELECT user_id % 64 AS u6,
               CAST(FLOOR(epoch(ts)) AS BIGINT) // 60 % 64 AS m6,
               CAST(FLOOR(epoch(ts)) AS BIGINT) // 43200 AS tfile
        FROM events
    ),
    z AS (SELECT *, ({_zsql(["u6", "m6"], 6)}) >> 6 AS zfile FROM base),
    zstats AS (
        SELECT zfile AS file_id, COUNT(*) AS n_rows,
               MIN(u6) AS u_min, MAX(u6) AS u_max
        FROM z GROUP BY 1
    ),
    tstats AS (
        SELECT tfile AS file_id, COUNT(*) AS n_rows,
               MIN(u6) AS u_min, MAX(u6) AS u_max
        FROM z GROUP BY 1
    ),
    zsum AS (
        SELECT 'zorder_prefix' AS layout,
               CAST(COUNT(*) AS INT) AS files_total,
               CAST(SUM(CASE WHEN u_min IS NOT NULL AND u_max >= 8
                             AND u_min <= 15 THEN 1 ELSE 0 END) AS INT)
                   AS files_read,
               CAST(SUM(CASE WHEN u_min IS NOT NULL AND u_max >= 8
                             AND u_min <= 15 THEN n_rows ELSE 0 END)
                    AS BIGINT) AS rows_read,
               CAST(SUM(n_rows) AS BIGINT) AS rows_total
        FROM zstats
    ),
    tsum AS (
        SELECT 'time_arrival' AS layout,
               CAST(COUNT(*) AS INT) AS files_total,
               CAST(SUM(CASE WHEN u_min IS NOT NULL AND u_max >= 8
                             AND u_min <= 15 THEN 1 ELSE 0 END) AS INT)
                   AS files_read,
               CAST(SUM(CASE WHEN u_min IS NOT NULL AND u_max >= 8
                             AND u_min <= 15 THEN n_rows ELSE 0 END)
                    AS BIGINT) AS rows_read,
               CAST(SUM(n_rows) AS BIGINT) AS rows_total
        FROM tstats
    )
    SELECT * FROM zsum UNION ALL SELECT * FROM tsum
    """,
)
def q_zonemap_layout_compare(spark: SparkSession, sf: str) -> DataFrame:
    """Layout effectiveness, measured (operators/skipping.py + operators/
    layout.py::zorder_key): the same events filed two ways — by arrival
    time vs by z-order-key prefix (the range-partitioned OPTIMIZE ZORDER
    write) — then the identical user-bucket range workload pruned against
    each manifest.  Time files straddle every user bucket and read the
    whole corpus; z-prefix files fix the top-3 bits of both dimensions
    and skip ~7/8 of files AND rows.  This is the scan-volume argument
    for clustering keys, as a hash-checked number instead of a claim."""
    from .operators.layout import zorder_key
    from .operators.skipping import file_stats, prune_scan, scan_summary

    ev = (
        load(spark, sf, "events")
        .withColumn("u6", F.col("user_id") % 64)
        .withColumn("m6", F.expr("unix_timestamp(ts) div 60 % 64"))
        .withColumn("tfile", F.expr("unix_timestamp(ts) div 43200"))
    )
    ev = ev.withColumn(
        "zfile",
        F.shiftright(zorder_key([F.col("u6"), F.col("m6")], 6), 6),
    )
    workload = [("u6", 8, 15)]
    zs = scan_summary(
        prune_scan(file_stats(ev, "zfile", ["u6"]), workload), "zorder_prefix"
    )
    ts = scan_summary(
        prune_scan(file_stats(ev, "tfile", ["u6"]), workload), "time_arrival"
    )
    return zs.unionByName(ts)


# ---------------------------------------------------------------------------
# HTML -> Markdown linearization (functions/markdown.py) — the structure-
# preserving extraction modern corpus pipelines feed models; one RULES
# table emits both the JVM regexp chain and the oracle's identical nested
# SQL, so any divergence in any of the ~30 passes breaks the hash.
# ---------------------------------------------------------------------------
from .functions.markdown import html_to_markdown_sql as _md_sql  # noqa: E402

_MD_HTML_SQL = (
    "('<html><body><h1>Doc ' || CAST(doc_id AS VARCHAR) || ' &amp; notes</h1>"
    "<p>From <b>' || source || '</b> in <em>' || lang || '</em>.</p>"
    "<ul><li>chars: <code>' || CAST(n_chars AS VARCHAR) || '</code></li>"
    '<li><a href="https://x/\' || CAST(doc_id AS VARCHAR) || \'">self</a>'
    "</li></ul><p>' || text || '</p></body></html>')"
)


@register(
    "html_to_markdown_docs",
    f"""
    SELECT doc_id, {_md_sql(_MD_HTML_SQL)} AS md
    FROM documents
    """,
)
def q_html_to_markdown_docs(spark: SparkSession, sf: str) -> DataFrame:
    """HTML -> Markdown (functions/markdown.py::html_to_markdown):
    structure-preserving linearization — headings, emphasis, links, list
    items and table cells survive as Markdown markers instead of being
    flattened away.  Pages are synthesized closed-form from document
    fields (heading + bold/em + code + link + body paragraph), so the
    oracle replays generation AND all ~30 regex passes; pure column
    expressions, one scan, no Python."""
    from .functions.markdown import html_to_markdown

    docs = load_docs_spread(spark, sf)
    html = F.concat(
        F.lit("<html><body><h1>Doc "),
        F.col("doc_id").cast("string"),
        F.lit(" &amp; notes</h1><p>From <b>"),
        F.col("source"),
        F.lit("</b> in <em>"),
        F.col("lang"),
        F.lit("</em>.</p><ul><li>chars: <code>"),
        F.col("n_chars").cast("string"),
        F.lit('</code></li><li><a href="https://x/'),
        F.col("doc_id").cast("string"),
        F.lit('">self</a></li></ul><p>'),
        F.col("text"),
        F.lit("</p></body></html>"),
    )
    return docs.select("doc_id", html_to_markdown(html).alias("md"))


# ---------------------------------------------------------------------------
# Parquet data-page decode (sources/parquet_pages.py) — the footer parse
# extended into actual column READS: thrift page headers, RLE/bit-packed
# levels, PLAIN + dictionary encodings, snappy/gzip pages, pure Python.
# Oracle = DuckDB's independent reader of the SAME file.
# ---------------------------------------------------------------------------
@register(
    "parquet_page_decode",
    """
    SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
    FROM '/root/testdata/sf0.01/events.parquet'
    """,
)
def q_parquet_page_decode(spark: SparkSession, sf: str) -> DataFrame:
    """Parquet data-page decode (sources/parquet_pages.py): the fixture
    file's column chunks walked and decoded by the repo's own pure-Python
    reader — thrift page headers, definition-level RLE/bit-packed runs,
    PLAIN and RLE_DICTIONARY values, snappy page decompression through
    functions/snappy_codec — distributed via binaryFile.  The oracle is
    DuckDB scanning the same file: two independent implementations of the
    public format must agree on every value, including exact int64
    timestamp micros and bit-identical doubles."""
    from .sources.parquet_pages import parquet_scan_python

    out = parquet_scan_python(
        spark,
        f"{sf}/events.parquet",
        ["event_id", "user_id", "ts", "event_type", "value"],
        "event_id long, user_id long, ts long, event_type string, value double",
    )
    return out.withColumnRenamed("ts", "ts_us")


from .operators.skipping import bloom_positions_sql as _bpos  # noqa: E402


def _bloom_lookup_sql(keys: list[int], m: int, k: int) -> str:
    per_key = [
        "(" + " AND ".join(
            f"list_contains(bl, {p})" for p in _bpos(f"'{key}'", m, k)
        ) + ")"
        for key in keys
    ]
    return " OR ".join(per_key)


@register(
    "bloom_point_skipping",
    f"""
    WITH f AS (
        SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 43200 AS file_id, user_id
        FROM events
    ),
    p AS (
        SELECT DISTINCT file_id,
               unnest([{", ".join(_bpos("CAST(user_id AS VARCHAR)", 512, 3))}])
                   AS pos
        FROM f WHERE user_id IS NOT NULL
    ),
    s AS (SELECT file_id, COUNT(*) AS n_rows FROM f GROUP BY 1),
    bits AS (
        SELECT file_id, COUNT(*) AS n_bits, list(pos) AS bl
        FROM p GROUP BY 1
    )
    SELECT s.file_id, CAST(s.n_rows AS BIGINT) AS n_rows,
           CAST(COALESCE(b.n_bits, 0) AS INT) AS n_bits,
           COALESCE(({_bloom_lookup_sql([3, 77, 140, 9999], 512, 3)}), FALSE)
               AS must_read
    FROM s LEFT JOIN bits b ON s.file_id = b.file_id
    """,
)
def q_bloom_point_skipping(spark: SparkSession, sf: str) -> DataFrame:
    """File-level Bloom point-lookup pruning (operators/skipping.py::
    file_bloom_stats / prune_point_lookups): the equality-predicate
    complement to min/max envelopes — range stats can't skip a lookup on
    a high-cardinality unordered key, the per-file Bloom summary can
    (parquet bloom pages / Iceberg puffin blobs do exactly this).  A
    4-user lookup workload prunes 12-hour files; no false negatives by
    construction, false positives only cost a read.  The oracle replays
    every hash position and membership test."""
    from .operators.skipping import file_bloom_stats, prune_point_lookups

    ev = load(spark, sf, "events").withColumn(
        "file_id", F.expr("unix_timestamp(ts) div 43200")
    )
    stats = file_bloom_stats(ev, "file_id", "user_id", 512, 3)
    return prune_point_lookups(stats, [3, 77, 140, 9999], 512, 3).select(
        "file_id",
        "n_rows",
        F.size("bloom_bits").cast("int").alias("n_bits"),
        "must_read",
    )


# ---------------------------------------------------------------------------
# Exact-integer PCA power iteration (operators/pca.py) — dominant-direction
# readout over embeddings; the label-planted rank-1 component gives the
# spectrum a real gap, and the oracle replays all T iterations CTE-for-CTE.
# ---------------------------------------------------------------------------
def _pca_oracle_sql(iterations: int) -> str:
    head = """
    WITH idx AS (SELECT unnest(range(1, 65)) AS j),
    pl AS (
        SELECT e.vec_id, idx.j,
               CAST(ROUND((CAST(e.embedding[idx.j] AS DOUBLE)
                    + e.label * ((CAST(((idx.j - 1) * 37) % 13 AS DOUBLE) - 6)
                                 / 3)) * 100) AS BIGINT) AS q
        FROM embeddings e, idx
    ),
    nn AS (SELECT COUNT(*) AS n FROM embeddings),
    m AS (SELECT j, CASE WHEN SUM(q) >= 0
                         THEN CAST(SUM(q) AS BIGINT) // (SELECT n FROM nn)
                         ELSE -((-CAST(SUM(q) AS BIGINT)) // (SELECT n FROM nn))
                    END AS m
          FROM pl GROUP BY 1),
    c AS (SELECT vec_id, pl.j, q - m.m AS c FROM pl JOIN m ON pl.j = m.j)"""
    prev = None  # v table of the previous round (None = all-1000 start)
    body = ""
    for t in range(1, iterations + 1):
        dot = (
            "SUM(c.c * 1000)"
            if prev is None
            else f"SUM(c.c * {prev}.v)"
        )
        join = "" if prev is None else f" JOIN {prev} ON c.j = {prev}.j"
        body += f""",
    d{t} AS (SELECT vec_id, CAST({dot} AS BIGINT) AS d
             FROM c{join} GROUP BY 1),
    w{t} AS (SELECT c.j, CAST(SUM(c.c * d{t}.d) AS BIGINT) AS w
             FROM c JOIN d{t} USING (vec_id) GROUP BY 1),
    x{t} AS (SELECT MAX(ABS(w)) AS wm FROM w{t}),
    v{t} AS (SELECT j, CASE WHEN w >= 0 THEN (w * 1000) // wm
                            ELSE -(((-w) * 1000) // wm) END AS v
             FROM w{t}, x{t})"""
        prev = f"v{t}"
    return head + body + f"""
    SELECT c.vec_id, CAST(SUM(c.c * {prev}.v) AS BIGINT) AS pc1_score
    FROM c JOIN {prev} ON c.j = {prev}.j
    GROUP BY 1
    """


@register("embedding_pca_power", _pca_oracle_sql(3))
def q_embedding_pca_power(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-integer PCA power iteration (operators/pca.py::
    pca_power_quantized): per-vector projection onto the dominant
    component after 3 rounds — coordinates quantized once, mean removed
    by sign-guarded truncating div, each round ONE aggregation job (dot
    = JVM zip_with fold against the iterate inlined as array literals,
    w = posexplode + partial-agg groupBy; dims-row collect only, never
    a corpus self-join).  A label-scaled closed-form direction is
    planted so the spectrum has a real gap; the oracle replays every
    round's arithmetic integer-for-integer."""
    from .operators.pca import pca_power_quantized

    emb = load(spark, sf, "embeddings").select(
        "vec_id",
        F.expr(
            "transform(embedding, (x, k) -> CAST(x AS DOUBLE)"
            " + label * ((CAST((k * 37) % 13 AS DOUBLE) - 6) / 3))"
        ).alias("embedding"),
    )
    scores, _ = pca_power_quantized(emb, iterations=3)
    return scores


# ---------------------------------------------------------------------------
# Unigram-LM subword tokenizer (operators/unigram.py) — the SentencePiece
# companion to BPE: seed vocab by weighted substring frequency, micro-nat
# unigram scores, Viterbi segmentation as ONE integer objective
# (128·Σscore − n_pieces) so the oracle replays the DP as an unrolled
# expression chain with no path enumeration and no tie ambiguity.
# ---------------------------------------------------------------------------
def _unigram_oracle_sql(
    max_word_len: int = 16, max_piece: int = 6, top_k: int = 200
) -> str:
    sent = -(1 << 62)
    piv_cols = ",\n               ".join(
        f"MAX(CASE WHEN j = {j} AND i = {i} THEN sc END) AS s_{j}_{i}"
        for j in range(max_word_len)
        for i in range(j + 1, min(j + max_piece, max_word_len) + 1)
    )
    b_cols = ["CAST(0 AS BIGINT) AS b0"]
    for i in range(1, max_word_len + 1):
        terms = [
            f"COALESCE(b{j} + 128 * s_{j}_{i} - 1, {sent})"
            for j in range(max(0, i - max_piece), i)
        ]
        b_cols.append(
            (f"GREATEST({', '.join(terms)})" if len(terms) > 1 else terms[0])
            + f" AS b{i}"
        )
    obj_case = " ".join(
        f"WHEN {i} THEN b{i}" for i in range(1, max_word_len + 1)
    )
    return f"""
    WITH occ AS (
        SELECT doc_id, word
        FROM (SELECT doc_id,
                     unnest(string_split_regex(lower(text), '\\s+')) AS word
              FROM documents)
        WHERE length(word) BETWEEN 1 AND {max_word_len}
    ),
    wc AS (SELECT word, COUNT(*) AS n_occ FROM occ GROUP BY 1),
    cand AS (
        SELECT unnest(flatten([
                   [substr(word, st, ln)
                    FOR st IN range(1, length(word) - ln + 2)]
                   FOR ln IN range(1, least(length(word), {max_piece}) + 1)
               ])) AS piece,
               n_occ
        FROM wc
    ),
    vc AS (
        SELECT piece, CAST(SUM(n_occ) AS BIGINT) AS cnt
        FROM cand GROUP BY 1 HAVING SUM(n_occ) >= 2
    ),
    topv AS (
        SELECT piece, cnt FROM vc
        QUALIFY ROW_NUMBER() OVER (ORDER BY cnt DESC, piece ASC) <= {top_k}
    ),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM topv),
    vocab AS (
        SELECT piece,
               CAST(FLOOR(1000000 * ln(CAST(cnt AS DOUBLE) / t)) AS BIGINT)
                   AS score_micro
        FROM topv, tot
    ),
    sub0 AS (
        SELECT word,
               unnest(flatten([
                   [{{'j': j, 'i': i}}
                    FOR i IN range(j + 1,
                                   least(j + {max_piece}, length(word)) + 1)]
                   FOR j IN range(0, length(word))
               ])) AS ji
        FROM (SELECT DISTINCT word FROM occ)
    ),
    sub AS (
        SELECT s.word, s.ji.j AS j, s.ji.i AS i,
               COALESCE(v.score_micro,
                        CASE WHEN s.ji.i - s.ji.j = 1 THEN -20000000 END) AS sc
        FROM sub0 s
        LEFT JOIN vocab v ON v.piece = substr(s.word, s.ji.j + 1, s.ji.i - s.ji.j)
    ),
    piv AS (
        SELECT word,
               {piv_cols}
        FROM sub GROUP BY 1
    ),
    dp AS (
        SELECT word, {", ".join(b_cols)}
        FROM piv
    ),
    wstat AS (
        SELECT word,
               CASE length(word) {obj_case} END AS obj
        FROM dp
    ),
    wkpi AS (
        SELECT word,
               CAST((-obj) % 128 AS INT) AS n_pieces,
               -((-obj) // 128) AS score
        FROM wstat
    )
    SELECT occ.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(w.n_pieces) AS BIGINT) AS n_pieces,
           CAST(SUM(w.score) AS BIGINT) AS score_micro
    FROM occ JOIN wkpi w ON occ.word = w.word
    GROUP BY 1
    """


@register("unigram_tokenize", _unigram_oracle_sql())
def q_unigram_tokenize(spark: SparkSession, sf: str) -> DataFrame:
    """Unigram-LM tokenization readout (operators/unigram.py): seed vocab
    = top-200 occurrence-weighted word-internal substrings scored as
    micro-nat unigram log-probs; every DISTINCT word Viterbi-segmented
    (Arrow-batched UDF over the word vocabulary, never per occurrence);
    per-doc totals via one broadcast join.  The single integer objective
    makes the DP value, piece count, and score all tie-unambiguous; the
    oracle replays candidate extraction, the top-K cut, the engine-side
    ln scoring, and the full DP as an unrolled expression chain."""
    from .operators.unigram import build_unigram_vocab, unigram_tokenize_stats

    docs = load_docs_spread(spark, sf)
    vocab = build_unigram_vocab(docs, top_k=200)
    return unigram_tokenize_stats(docs, vocab)


# ---------------------------------------------------------------------------
# CCNet head/middle/tail bucketing (operators/lm.py::ccnet_buckets) — the
# published CCNet pipeline step the LM scorer exists FOR: per-language
# perplexity tertiles, exact integer rank key, NTILE replayed.
# ---------------------------------------------------------------------------
@register(
    "ccnet_perplexity_buckets",
    """
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ), uni AS (
        SELECT w1, COUNT(*) AS c1 FROM (
            SELECT unnest(t) AS w1 FROM toks WHERE doc_id % 23 = 3
        ) WHERE w1 <> '' GROUP BY w1
    ), v AS (
        SELECT COUNT(*) + 1 AS vocab FROM uni
    ), bi AS (
        SELECT p[1] AS w1, p[2] AS w2, COUNT(*) AS c2 FROM (
            SELECT unnest(list_transform(range(1, len(t)),
                                         i -> [t[i], t[i+1]])) AS p
            FROM toks WHERE doc_id % 23 = 3
        ) GROUP BY 1, 2
    ), occ AS (
        SELECT doc_id, p[1] AS w1, p[2] AS w2 FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(t)),
                                         i -> [t[i], t[i+1]])) AS p
            FROM toks
        )
    ), lp AS (
        SELECT occ.doc_id,
               CAST(FLOOR(1000000.0 * ln(
                   CAST(COALESCE(bi.c2, 0) + 1 AS DOUBLE)
                   / CAST(COALESCE(uni.c1, 0) + v.vocab AS DOUBLE)
               )) AS BIGINT) AS lp
        FROM occ
        LEFT JOIN bi ON bi.w1 = occ.w1 AND bi.w2 = occ.w2
        LEFT JOIN uni ON uni.w1 = occ.w1
        CROSS JOIN v
    ), sc AS (
        SELECT doc_id,
               CAST(SUM(lp) AS BIGINT) AS score_micro,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams
        FROM lp GROUP BY doc_id
    ), rk AS (
        SELECT sc.doc_id, d.lang,
               -(((-sc.score_micro) * 1000) // sc.n_bigrams) AS ratio_milli
        FROM sc JOIN documents d ON d.doc_id = sc.doc_id
    )
    SELECT doc_id, lang, CAST(ratio_milli AS BIGINT) AS ratio_milli,
           CASE NTILE(3) OVER (PARTITION BY lang
                               ORDER BY ratio_milli DESC, doc_id ASC)
                WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
           END AS bucket
    FROM rk
    """,
)
def q_ccnet_perplexity_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet head/middle/tail selection (operators/lm.py::ccnet_buckets,
    Wenzek et al. 2020 §4): documents ranked per language by bigram-LM
    score per bigram (exact integer milli key, sign-guarded div) and
    NTILE'd into the three perplexity buckets — head is what CCNet keeps.
    Same closed-form target slice as `lm_perplexity_scores`; the oracle
    replays scoring, normalization, and the tertile assignment."""
    from .operators.lm import ccnet_buckets

    docs = load_docs_spread(spark, sf)
    target = docs.where(F.col("doc_id") % 23 == 3)
    return ccnet_buckets(docs, target)


# ---------------------------------------------------------------------------
# Rolling-origin forecast backtest (operators/forecast.py::holt_backtest) —
# the usability readout for the Holt fit: one-step-ahead errors + MASE
# skill vs the naive random walk, exact-integer error algebra.
# ---------------------------------------------------------------------------
def _holt_backtest_oracle() -> str:
    from .operators.forecast import holt_backtest_oracle_sql

    series = """
        SELECT event_type,
               (CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600) AS hr,
               CAST(COUNT(*) AS DOUBLE) AS y
        FROM events GROUP BY 1, 2
    """
    return holt_backtest_oracle_sql(
        series, ["event_type"], "hr", "y", alpha=0.5, beta=0.25, warmup=5
    )


@register("forecast_backtest_hourly", _holt_backtest_oracle())
def q_forecast_backtest_hourly(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling-origin backtest (operators/forecast.py::holt_backtest)
    of the hourly Holt fit: per event_type, post-warmup one-step-ahead
    error sums (floor-quantized e4 units), bias, squared error, and
    MASE-milli vs the naive random walk — the number that says whether
    the forecast earns its alerts.  Same single recurrence pass as the
    fit (fitted yhat never sees y_t); the oracle replays recurrence and
    integer error algebra exactly."""
    from .operators.forecast import holt_backtest

    ev = load(spark, sf, "events")
    hourly = ev.groupBy(
        "event_type",
        F.floor(F.unix_timestamp(F.col("ts")) / F.lit(3600))
        .cast("long")
        .alias("hr"),
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    return holt_backtest(
        hourly, ["event_type"], "hr", "y", alpha=0.5, beta=0.25, warmup=5
    )


# ---------------------------------------------------------------------------
# k-means|| seeding (operators/kmeanspp.py) — Bahmani 2012 oversampling
# with a deterministic md5 coin: selection is a pure function of the data,
# every round replayed by the oracle (rounds unrolled, exact integers).
# ---------------------------------------------------------------------------
def _kmpp_oracle_sql(l: int = 4, rounds: int = 3, scale: int = 1000) -> str:
    h = "CAST(('0x' || substr(md5(CAST({v} AS VARCHAR){salt}), 1, 15)) AS BIGINT)"
    head = f"""
    WITH q AS (
        SELECT vec_id, j,
               CAST(ROUND(CAST(embedding[j] AS DOUBLE) * {scale}) AS BIGINT)
                   AS qv
        FROM embeddings, (SELECT unnest(range(1, 65)) AS j)
    ),
    c0 AS (
        SELECT vec_id AS cid, CAST(0 AS INT) AS rnd FROM (
            SELECT vec_id,
                   ROW_NUMBER() OVER (
                       ORDER BY {h.format(v="vec_id", salt="")}, vec_id) AS rn
            FROM embeddings) WHERE rn = 1
    )"""
    body = ""
    for r in range(1, rounds + 1):
        coin = h.format(v="d.vec_id", salt=f" || ':kmpp:{r}'")
        body += f""",
    dist{r} AS (
        SELECT q.vec_id, c.cid,
               CAST(SUM((q.qv - qc.qv) * (q.qv - qc.qv)) AS BIGINT) AS dd
        FROM q JOIN c{r - 1} c ON TRUE
        JOIN q qc ON qc.vec_id = c.cid AND qc.j = q.j
        GROUP BY q.vec_id, c.cid
    ),
    d{r} AS (SELECT vec_id, MIN(dd) AS mind2 FROM dist{r} GROUP BY 1),
    p{r} AS (SELECT CAST(SUM(mind2) AS BIGINT) AS phi FROM d{r}),
    n{r} AS (
        -- cross-multiplied (no division): a divided threshold would
        -- overflow BIGINT whenever l*d2 >= 8*phi
        SELECT d.vec_id FROM d{r} d, p{r}
        WHERE d.mind2 > 0
          AND CAST({coin} AS HUGEINT) * p{r}.phi
              < CAST({l} AS HUGEINT) * d.mind2 * 1152921504606846976
    ),
    c{r} AS (
        SELECT cid, rnd FROM c{r - 1}
        UNION ALL SELECT vec_id, {r} FROM n{r}
    )"""
    return head + body + f""",
    distF AS (
        SELECT q.vec_id, c.cid,
               CAST(SUM((q.qv - qc.qv) * (q.qv - qc.qv)) AS BIGINT) AS dd
        FROM q JOIN c{rounds} c ON TRUE
        JOIN q qc ON qc.vec_id = c.cid AND qc.j = q.j
        GROUP BY q.vec_id, c.cid
    ),
    near AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dd, cid) AS rn
            FROM distF) WHERE rn = 1
    ),
    w AS (SELECT cid, COUNT(*) AS n FROM near GROUP BY 1)
    SELECT c.cid AS cand_id, CAST(c.rnd AS INT) AS round_added,
           CAST(COALESCE(w.n, 0) AS BIGINT) AS weight
    FROM c{rounds} c LEFT JOIN w ON w.cid = c.cid
    """


@register("kmeans_parallel_seeds", _kmpp_oracle_sql())
def q_kmeans_parallel_seeds(spark: SparkSession, sf: str) -> DataFrame:
    """k-means|| seeding (operators/kmeanspp.py): 3 oversampling rounds at
    l=4 over the embedding corpus — per round one scan (min-distance fold
    against candidate literals), a 1-row φ aggregate, and an expected-l
    collect; candidates weighted by attraction for the driver-side
    weighted recluster the paper prescribes.  The md5 sampling coin makes
    selection a pure function of the data: the oracle replays every
    round, the cross-multiplied DECIMAL selection inequality, and the argmin weighting
    integer-for-integer."""
    from .operators.kmeanspp import kmeans_parallel_seeds

    emb = load(spark, sf, "embeddings")
    return kmeans_parallel_seeds(emb, l=4, rounds=3, scale=1000)


# ---------------------------------------------------------------------------
# Avro schema resolution (functions/avro_codec.py::resolve_read) — reading
# yesterday's topic dumps through today's schema: writer-only fields
# skipped, reader-only fields defaulted, primitive promotions applied.
# ---------------------------------------------------------------------------
@register(
    "avro_schema_resolution",
    """
    SELECT event_type AS etype, COUNT(*) AS docs,
           CAST(SUM(event_id) AS BIGINT) AS eid_sum,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS vm_sum,
           CAST(SUM(CASE WHEN event_id % 7 = 0
                 OR TRY_CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT)
                    IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_k_null,
           'emea' AS region
    FROM events GROUP BY etype
    """,
)
def q_avro_schema_resolution(spark: SparkSession, sf: str) -> DataFrame:
    """Avro schema evolution (functions/avro_codec.py::resolve_read over
    sources/avro_ocf.py): the same OCF blobs as `avro_container_decode`
    read through READER_SCHEMA_V2 — uid/tags skipped as writer-only, vm
    promoted long→double, region filled from the reader default, the
    nullable union re-resolved — per the public spec's resolution rules.
    The oracle predicts the evolved rows closed-form from events; vm
    survives promotion exactly (integer-valued doubles)."""
    from .sources.avro_ocf import (
        decode_avro_containers_resolved,
        generate_avro_containers,
    )

    dec = decode_avro_containers_resolved(
        generate_avro_containers(load(spark, sf, "events"))
    )
    return dec.groupBy("etype").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("eid").alias("eid_sum"),
        F.sum("vm").cast("long").alias("vm_sum"),
        F.sum(F.col("knum").isNull().cast("int")).cast("long").alias("n_k_null"),
        F.min("region").alias("region"),
    )


# ---------------------------------------------------------------------------
# STREAMING SCD2 (streaming/scd2.py) — dimension history maintained in the
# state store across micro-batches; emits versions as they CLOSE.  The
# oracle is the batch scd2 fixture restricted to closed versions.
# ---------------------------------------------------------------------------
@register(
    "streaming_scd2",
    """
    WITH c AS (
        SELECT id % 50 AS k, id // 50 AS seq FROM range(3000) t(id)
    ),
    v AS (
        SELECT k, seq FROM c WHERE seq = 0 OR seq % 7 = 0 OR seq % 13 = 0
    ),
    h AS (
        SELECT 'u' || k AS entity_id,
               'p' || (seq // 7) AS plan,
               'r' || ((seq // 13) % 4) AS region,
               make_timestamp((1767225600 + seq * 3600) * 1000000)
                   AS valid_from,
               make_timestamp((1767225600 + lead(seq) OVER (
                   PARTITION BY k ORDER BY seq) * 3600) * 1000000)
                   AS valid_to,
               CAST(row_number() OVER (PARTITION BY k ORDER BY seq) AS INT)
                   AS version
        FROM v
    )
    SELECT entity_id, plan, region,
           strftime(valid_from, '%Y-%m-%d %H:%M:%S') AS valid_from,
           strftime(valid_to, '%Y-%m-%d %H:%M:%S') AS valid_to,
           version
    FROM h WHERE valid_to IS NOT NULL
    """,
)
def q_streaming_scd2(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING SCD2 (streaming/scd2.py::scd2_stream): the change-log
    fixture replayed through applyInPandasWithState — per-key open
    version held in the state store, unchanged snapshots compacted,
    closed versions emitted append-mode with half-open validity and
    version numbers.  Must equal the batch scd2_from_changes history
    restricted to closed versions (the open version is future-mutable,
    so a correct stream cannot emit it)."""
    import tempfile

    from .sources.dims import generate_change_log
    from .streaming.scd2 import scd2_stream

    log = generate_change_log(spark, 3000)
    d = tempfile.mkdtemp(prefix="scd2_gate_")
    log.coalesce(1).write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(log.schema).parquet(d)
    closed = scd2_stream(stream, ["entity_id"], ts_col="ts")
    tbl = _run_stream_gate(spark, closed, "stream_gate_scd2", mode="append")
    return tbl.select(
        "entity_id",
        "plan",
        "region",
        _fmt_ts(F.col("valid_from")).alias("valid_from"),
        _fmt_ts(F.col("valid_to")).alias("valid_to"),
        "version",
    )


# ---------------------------------------------------------------------------
# Deterministic random walks (operators/graph.py::random_walks) — the
# DeepWalk/node2vec corpus generator with an md5 step chooser: walks are a
# pure function of the graph, every step replayed by the oracle.
# ---------------------------------------------------------------------------
def _walk_sql_parts(length: int = 4, seed: str = "walk") -> tuple[str, str]:
    """(CTE chain, walk-union select) — shared by the walk gate and the
    skip-gram pair gate built on top of it."""
    head = """
    WITH e AS (
        SELECT DISTINCT user_id % 30 AS src,
               (user_id * 7 + event_id) % 30 AS dst
        FROM events WHERE user_id % 30 <> (user_id * 7 + event_id) % 30
    ),
    neigh AS (
        SELECT src AS node, list_sort(list(DISTINCT dst)) AS ns
        FROM e GROUP BY 1
    ),
    w0 AS (SELECT node AS walk_id, node FROM neigh)"""
    body = ""
    for s in range(1, length + 1):
        h = (
            "CAST(('0x' || substr(md5(CAST(w.walk_id AS VARCHAR)"
            f" || ':{seed}:{s}'), 1, 15)) AS BIGINT)"
        )
        body += f""",
    w{s} AS (
        SELECT w.walk_id,
               n.ns[CAST({h} % len(n.ns) AS INT) + 1] AS node
        FROM w{s - 1} w JOIN neigh n ON n.node = w.node
    )"""
    selects = " UNION ALL ".join(
        f"SELECT walk_id, CAST({s} AS INT) AS step, node FROM w{s}"
        for s in range(0, length + 1)
    )
    return head + body, selects


def _walk_oracle_sql(length: int = 4, seed: str = "walk") -> str:
    ctes, selects = _walk_sql_parts(length, seed)
    return ctes + "\n    " + selects


@register("graph_random_walks", _walk_oracle_sql())
def q_graph_random_walks(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic uniform random walks (operators/graph.py::
    random_walks): one 4-step walk per node of a closed-form user-
    transition graph — the DeepWalk corpus generator, with the md5 step
    chooser making every walk a pure function of the graph.  L equi-
    joins against the sorted-neighbor table; the oracle replays each
    step's hash, modulo, and list index."""
    from .operators.graph import random_walks

    ev = load(spark, sf, "events")
    edges = (
        ev.select(
            (F.col("user_id") % 30).alias("src"),
            ((F.col("user_id") * 7 + F.col("event_id")) % 30).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    return random_walks(edges, length=4)


def _skipgram_oracle_sql(window: int = 2) -> str:
    ctes, selects = _walk_sql_parts()
    return (
        ctes
        + f""",
    walks AS ({selects})
    SELECT a.node AS center, b.node AS context,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM walks a JOIN walks b
      ON a.walk_id = b.walk_id
     AND abs(a.step - b.step) BETWEEN 1 AND {window}
    GROUP BY 1, 2
    """
    )


@register("graph_skipgram_pairs", _skipgram_oracle_sql())
def q_graph_skipgram_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Skip-gram pair extraction (operators/graph.py::skipgram_pairs)
    over the deterministic walk corpus — the word2vec training-pair
    shape: ordered (center, context) co-occurrences within a 2-step
    window, one walk_id self-join + one partial-aggregated count.  The
    oracle replays the walks AND the pair window."""
    from .operators.graph import random_walks, skipgram_pairs

    ev = load(spark, sf, "events")
    edges = (
        ev.select(
            (F.col("user_id") % 30).alias("src"),
            ((F.col("user_id") * 7 + F.col("event_id")) % 30).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    return skipgram_pairs(random_walks(edges, length=4), window=2)


# ---------------------------------------------------------------------------
# Arrow IPC stream decode (functions/arrow_ipc.py) — the third columnar
# interchange beside parquet pages and Avro OCF, hand-rolled flatbuffer
# walk; the oracle predicts the decoded rows closed-form from events.
# ---------------------------------------------------------------------------
@register(
    "arrow_stream_decode",
    """
    SELECT event_type AS etype, COUNT(*) AS docs,
           CAST(SUM(event_id) AS BIGINT) AS eid_sum,
           CAST(SUM(CASE WHEN event_id % 9 <> 0
                THEN CAST(ROUND(value * 100) AS BIGINT) END) AS BIGINT)
               AS vm_sum,
           CAST(SUM(CASE WHEN event_id % 9 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_vm_null,
           ROUND(SUM(value), 4) AS val_sum,
           CAST(SUM(epoch_us(ts) % 1000000) AS BIGINT) AS us_sum
    FROM events GROUP BY etype
    """,
)
def q_arrow_stream_decode(spark: SparkSession, sf: str) -> DataFrame:
    """Arrow IPC stream round trip (sources/arrow_stream.py +
    functions/arrow_ipc.py): events rendered per shard into real IPC
    stream blobs (pyarrow — the ubiquitous writer) and decoded back by
    the repo's pure-Python flatbuffer walk — continuation framing,
    Message/Schema/RecordBatch tables, validity bitmaps, int64/utf8/
    float64/timestamp buffers, multiple 100-row batches per blob.  The
    oracle predicts sums, the validity-bitmap null count, and exact
    timestamp micros straight from events."""
    from .sources.arrow_stream import decode_arrow_streams, generate_arrow_streams

    dec = decode_arrow_streams(generate_arrow_streams(load(spark, sf, "events")))
    return dec.groupBy("etype").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("eid").alias("eid_sum"),
        F.sum("vm").alias("vm_sum"),
        F.sum(F.col("vm").isNull().cast("int")).cast("long").alias("n_vm_null"),
        F.round(F.sum("val"), 4).alias("val_sum"),
        F.sum(F.col("ts_us") % 1000000).alias("us_sum"),
    )


# ---------------------------------------------------------------------------
# Native ROLLUP hierarchy totals — Catalyst's grouping-sets Expand operator
# (one scan, no self-union of aggregates); grouping_id disambiguates
# subtotal rows, exactly the SQL-standard bitmask both engines share.
# ---------------------------------------------------------------------------
@register(
    "rollup_traffic_totals",
    """
    SELECT event_type,
           CAST(hod AS BIGINT) AS hod,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS vm_sum,
           CAST(GROUPING(event_type) * 2 + GROUPING(hod) AS BIGINT) AS gid
    FROM (
        SELECT event_type,
               (CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600) % 24 AS hod,
               value
        FROM events
    )
    GROUP BY ROLLUP (event_type, hod)
    """,
)
def q_rollup_traffic_totals(spark: SparkSession, sf: str) -> DataFrame:
    """Hierarchy totals via native ROLLUP: per (event_type, hour-of-day)
    counts with per-type subtotals and the grand total in ONE scan —
    Catalyst's Expand operator emits the grouping sets map-side, so the
    hierarchy costs one shuffle, not one aggregate per level unioned.
    grouping_id carries the SQL-standard subtotal bitmask both engines
    share; the oracle is DuckDB's own GROUP BY ROLLUP."""
    ev = load(spark, sf, "events").select(
        "event_type",
        (F.expr("unix_timestamp(ts) div 3600") % 24).alias("hod"),
        "value",
    )
    return ev.rollup("event_type", "hod").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("vm_sum"),
        F.grouping_id().cast("long").alias("gid"),
    ).select("event_type", F.col("hod").cast("long").alias("hod"), "n", "vm_sum", "gid")


def _negsample_oracle_sql(k: int = 2, seed: str = "neg") -> str:
    ctes, selects = _walk_sql_parts()
    return (
        ctes
        + f""",
    walks AS ({selects}),
    pairs AS (
        SELECT DISTINCT a.node AS center, b.node AS context
        FROM walks a JOIN walks b
          ON a.walk_id = b.walk_id AND abs(a.step - b.step) BETWEEN 1 AND 2
    ),
    freq AS (SELECT node, COUNT(*) AS n FROM walks GROUP BY 1),
    cum AS (
        SELECT node,
               SUM(w) OVER (ORDER BY node) AS hi,
               SUM(w) OVER (ORDER BY node) - w AS lo
        FROM (SELECT node,
                     CAST(FLOOR(SQRT(FLOOR(SQRT(
                         CAST(n AS DOUBLE) * n * n * 1000000000000))))
                          AS BIGINT) AS w
              FROM freq)
    ),
    tot AS (SELECT MAX(hi) AS t FROM cum),
    draws AS (
        SELECT center, context, CAST(d AS INT) AS draw,
               CAST(('0x' || substr(md5(
                   CAST(center AS VARCHAR) || ':' ||
                   CAST(context AS VARCHAR) || ':{seed}:' ||
                   CAST(d AS VARCHAR)), 1, 15)) AS BIGINT) % (SELECT t FROM tot)
                   AS u
        FROM pairs, (SELECT unnest(range(1, {k} + 1)) AS d)
    )
    SELECT d.center, d.context, d.draw, c.node AS neg_node
    FROM draws d JOIN cum c ON d.u >= c.lo AND d.u < c.hi
    """
    )


@register("graph_skipgram_negatives", _negsample_oracle_sql())
def q_graph_skipgram_negatives(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic negative sampling (operators/graph.py::
    skipgram_negative_samples): 2 negatives per walk-corpus skip-gram
    pair from the unigram^(3/4) distribution by inverse CDF — the md5
    draw modulo total weight ranged into broadcast cumulative intervals;
    the 3/4-power weight rides nested IEEE sqrt (correctly rounded, so
    bit-identical across engines).  The oracle replays walks, pairs,
    weights, and every draw."""
    from .operators.graph import (
        random_walks,
        skipgram_negative_samples,
        skipgram_pairs,
    )

    ev = load(spark, sf, "events")
    edges = (
        ev.select(
            (F.col("user_id") % 30).alias("src"),
            ((F.col("user_id") * 7 + F.col("event_id")) % 30).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    walks = random_walks(edges, length=4)
    pairs = skipgram_pairs(walks, window=2).select("center", "context")
    freq = walks.groupBy("node").agg(F.count(F.lit(1)).alias("n"))
    return skipgram_negative_samples(pairs, freq, k=2)


# ---------------------------------------------------------------------------
# CBOR wire intake (functions/cbor_codec.py, RFC 8949) — canonical encode +
# liberal decode, epoch tag 1, nested maps/arrays; oracle closed-form.
# ---------------------------------------------------------------------------
@register(
    "cbor_records_roundtrip",
    """
    SELECT event_type AS etype, COUNT(*) AS docs,
           CAST(SUM(event_id) AS BIGINT) AS eid_sum,
           ROUND(SUM(CASE WHEN event_id % 11 <> 0 THEN value END), 4)
               AS v_sum,
           CAST(SUM(CASE WHEN event_id % 11 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_v_null,
           CAST(SUM(CAST(FLOOR(epoch(ts)) AS BIGINT) % 86400) AS BIGINT)
               AS day_sec_sum,
           CAST(SUM(COALESCE(
                TRY_CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT),
                0) * 1
                + COALESCE(
                TRY_CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT),
                0) % 7) AS BIGINT) AS k_sum,
           CAST(SUM(user_id) AS BIGINT) AS uid_sum
    FROM events GROUP BY etype
    """,
)
def q_cbor_records_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """CBOR record-stream round trip (sources/cbor_records.py +
    functions/cbor_codec.py): events rendered as back-to-back canonical
    CBOR items — shortest-form heads, §4.2.1 map-key order, epoch tag 1,
    nested arrays/maps, null v on every 11th record — then decoded back
    by the same RFC 8949 codec (test-pinned against all of Appendix A's
    vectors, indefinite forms included).  The oracle predicts every
    aggregate closed-form from events."""
    from .sources.cbor_records import decode_cbor_bodies, generate_cbor_bodies

    dec = decode_cbor_bodies(generate_cbor_bodies(load(spark, sf, "events")))
    return dec.groupBy("etype").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("eid").alias("eid_sum"),
        F.round(F.sum("v"), 4).alias("v_sum"),
        F.sum(F.col("v").isNull().cast("int")).cast("long").alias("n_v_null"),
        F.sum(F.col("epoch") % 86400).alias("day_sec_sum"),
        F.sum("k_sum").alias("k_sum"),
        F.sum("uid").alias("uid_sum"),
    )


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance (operators/aggregate.py::
# merge_agg_states) — the nightly-delta IVM loop; the gate's oracle is the
# FULL recompute, so merge == recompute is the verified property itself.
# ---------------------------------------------------------------------------
@register(
    "agg_incremental_merge",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS docs,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS vm_sum,
           CAST(MIN(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS vm_min,
           CAST(MAX(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS vm_max
    FROM events GROUP BY 1, 2
    """,
)
def q_agg_incremental_merge(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental aggregate maintenance (operators/aggregate.py::
    merge_agg_states): the corpus split into a persisted base (2/3 of
    events) and a nightly delta (1/3), each partially aggregated, then
    folded per (hour, event_type) with the sum/min/max spec.  The oracle
    aggregates the WHOLE corpus directly — merge-equals-recompute IS the
    gate, in exact integers."""
    from .operators.aggregate import merge_agg_states

    ev = load(spark, sf, "events")

    def agg(part: DataFrame) -> DataFrame:
        vm = F.round(F.col("value") * 100).cast("long")
        return part.groupBy(
            _fmt_ts(F.date_trunc("hour", "ts")).alias("window_start"),
            "event_type",
        ).agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(vm).alias("vm_sum"),
            F.min(vm).alias("vm_min"),
            F.max(vm).alias("vm_max"),
        )

    base = agg(ev.where("event_id % 3 <> 0"))
    delta = agg(ev.where("event_id % 3 = 0"))
    return merge_agg_states(
        [base, delta],
        ["window_start", "event_type"],
        {"docs": "sum", "vm_sum": "sum", "vm_min": "min", "vm_max": "max"},
    )


# ---------------------------------------------------------------------------
# Gopher document-level quality rules (functions/textstats.py::
# gopher_rules) — the MassiveText filter set with integer-exact
# thresholds; fixture suffixes plant bullet/ellipsis/symbol failures.
# ---------------------------------------------------------------------------
_GOPHER_BULLETS = "\n" + "\n".join(f"- b{i}" for i in range(10))
_GOPHER_DOTS = "\nwait...\nmore..."


def _sql_text_lit(s: str) -> str:
    parts = s.split("\n")
    return " || chr(10) || ".join("'" + p.replace("'", "''") + "'" for p in parts)


@register(
    "gopher_quality_rules",
    f"""
    WITH t AS (
        SELECT doc_id,
               text
               || CASE WHEN doc_id % 5 = 0
                       THEN ' ' || repeat('# ', 30) ELSE '' END
               || CASE WHEN doc_id % 7 = 0
                       THEN {_sql_text_lit(_GOPHER_BULLETS)} ELSE '' END
               || CASE WHEN doc_id % 11 = 0
                       THEN {_sql_text_lit(_GOPHER_DOTS)} ELSE '' END
                   AS t2
        FROM documents
    ),
    m AS (
        SELECT doc_id,
               string_split_regex(lower(t2), '\\s+') AS toks,
               length(regexp_replace(t2, '\\s+', '', 'g')) AS word_chars,
               string_split(t2, chr(10)) AS lines,
               length(t2) - length(regexp_replace(t2, '#|…', '', 'g'))
                   + len(string_split(t2, '...')) - 1 AS symbols
        FROM t
    ),
    r AS (
        SELECT doc_id,
               len(toks) AS n_words,
               word_chars,
               len(lines) AS n_lines,
               len(list_filter(lines,
                   l -> regexp_matches(trim(l), '^([-*•●▪])'))) AS bullet,
               len(list_filter(lines,
                   l -> regexp_matches(rtrim(l), '(…|\\.\\.\\.)$'))) AS ellipsis,
               symbols,
               len(list_filter(toks, w -> regexp_matches(w, '[a-z]')))
                   AS alpha,
               len(list_filter(['the', 'a', 'and', 'of', 'to'],
                   w -> list_contains(toks, w))) AS stop_hits
        FROM m
    )
    SELECT doc_id,
           (n_words >= 50 AND n_words <= 100000) AS r_word_count,
           (3 * n_words <= word_chars AND word_chars <= 10 * n_words)
               AS r_mean_word_len,
           (symbols * 10 <= n_words) AS r_symbol_ratio,
           (bullet * 10 < n_lines * 9) AS r_bullet_lines,
           (ellipsis * 10 < n_lines * 3) AS r_ellipsis_lines,
           (alpha * 5 >= n_words * 4) AS r_alpha_words,
           (stop_hits >= 2) AS r_stopwords,
           ((n_words >= 50 AND n_words <= 100000)
            AND (3 * n_words <= word_chars AND word_chars <= 10 * n_words)
            AND (symbols * 10 <= n_words)
            AND (bullet * 10 < n_lines * 9)
            AND (ellipsis * 10 < n_lines * 3)
            AND (alpha * 5 >= n_words * 4)
            AND (stop_hits >= 2)) AS gopher_pass
    FROM r
    """,
)
def q_gopher_quality_rules(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher document-quality rules (functions/textstats.py::
    gopher_rules, Rae et al. 2021 §A1.1): word-count bounds, mean word
    length, symbol/bullet/ellipsis ratios, alphabetic-word share,
    stopword presence — every threshold an integer cross-multiplied
    comparison, replayed exactly.  Deterministic fixture suffixes plant
    bullet-heavy, ellipsis-heavy, and symbol-heavy documents so both
    verdict polarities are exercised."""
    from .functions.textstats import gopher_rules

    docs = load_docs_spread(spark, sf)
    t2 = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 5 == 0, F.lit(" " + "# " * 30)).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 7 == 0, F.lit(_GOPHER_BULLETS)).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 11 == 0, F.lit(_GOPHER_DOTS)).otherwise(
            F.lit("")
        ),
    )
    rules = gopher_rules(t2)
    return docs.select("doc_id", *[c.alias(n) for n, c in rules.items()])


# ---------------------------------------------------------------------------
# Debezium CDC envelope intake (sources/debezium.py) — decode (from_json,
# JVM-only) + last-writer-wins apply with delete tombstones; oracle
# replays the winner fold closed-form.
# ---------------------------------------------------------------------------
@register(
    "debezium_cdc_apply",
    """
    WITH ch AS (
        SELECT event_id % 150 AS id,
               CASE WHEN event_id % 17 = 0 THEN 'd'
                    WHEN event_id % 5 = 0 THEN 'c' ELSE 'u' END AS op,
               CAST(FLOOR(epoch(ts)) AS BIGINT) * 1000 AS ts_ms,
               event_id AS lsn,
               'p' || (event_id % 7) AS plan,
               CAST(event_id % 1000 AS BIGINT) AS score
        FROM events
    ),
    w AS (
        SELECT id, op, plan, score,
               ROW_NUMBER() OVER (PARTITION BY id
                                  ORDER BY ts_ms DESC, lsn DESC) AS rn
        FROM ch
    )
    SELECT id, plan, score FROM w WHERE rn = 1 AND op <> 'd'
    """,
)
def q_debezium_cdc_apply(spark: SparkSession, sf: str) -> DataFrame:
    """Debezium CDC apply (sources/debezium.py): events rendered as real
    envelope JSON (before/after images, source.lsn, op c/u/d, ts_ms),
    decoded with one from_json projection and materialized to the
    current table — newest (ts_ms, lsn) wins per key, deletes tombstone,
    after-images survive.  One max_by groupBy (the A3 shape), no window;
    the oracle replays the winner fold closed-form."""
    from .sources.debezium import apply_debezium, decode_debezium

    ev = load(spark, sf, "events")
    eid = F.col("event_id")
    op = (
        F.when(eid % 17 == 0, F.lit("d"))
        .when(eid % 5 == 0, F.lit("c"))
        .otherwise(F.lit("u"))
    )
    row_after = F.struct(
        (eid % 150).alias("id"),
        F.concat(F.lit("p"), (eid % 7).cast("string")).alias("plan"),
        (eid % 1000).alias("score"),
    )
    row_before = F.struct(
        (eid % 150).alias("id"),
        F.lit("x").alias("plan"),
        F.lit(0).cast("long").alias("score"),
    )
    body = F.to_json(
        F.struct(
            F.when(op != "c", row_before).alias("before"),
            F.when(op != "d", row_after).alias("after"),
            F.struct(
                F.lit("db1").alias("db"),
                F.lit("t1").alias("table"),
                eid.alias("lsn"),
            ).alias("source"),
            op.alias("op"),
            (F.expr("unix_timestamp(ts)") * 1000).alias("ts_ms"),
        )
    )
    dec = decode_debezium(
        ev.select(body.alias("body")), "id: bigint, plan: string, score: bigint"
    )
    return apply_debezium(dec, ["id"])


# ---------------------------------------------------------------------------
# Confluent Schema-Registry wire framing (sources/avro_ocf.py::
# decode_confluent_frames) — magic byte + schema id + bare Avro binary,
# two live schema versions resolved from the registry stand-in.
# ---------------------------------------------------------------------------
@register(
    "confluent_wire_decode",
    """
    SELECT CAST(CASE WHEN event_id % 2 = 0 THEN 7 ELSE 9 END AS INT)
               AS schema_id,
           event_type AS etype,
           COUNT(*) AS docs,
           CAST(SUM(event_id) AS BIGINT) AS eid_sum,
           CAST(SUM(CASE WHEN event_id % 2 = 1
                THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS vm_sum
    FROM events GROUP BY 1, 2
    """,
)
def q_confluent_wire_decode(spark: SparkSession, sf: str) -> DataFrame:
    """Confluent Schema-Registry framing (sources/avro_ocf.py::
    decode_confluent_frames): one frame per event — 0x00 magic, int32
    schema id, bare Avro binary — with TWO registered schema versions
    live on the topic (id 7: {eid, etype}; id 9 adds vm), the standard
    mixed-version reality of a long-lived topic.  The registry stand-in
    resolves each frame's writer schema by id; the oracle predicts the
    per-(id, type) aggregates closed-form."""
    import pandas as pd

    from .functions.avro_codec import encode_value
    from .sources.avro_ocf import decode_confluent_frames

    v1 = {
        "type": "record", "name": "E",
        "fields": [
            {"name": "eid", "type": "long"},
            {"name": "etype", "type": "string"},
        ],
    }
    v2 = {
        "type": "record", "name": "E",
        "fields": [
            {"name": "eid", "type": "long"},
            {"name": "etype", "type": "string"},
            {"name": "vm", "type": "long"},
        ],
    }
    registry = {7: v1, 9: v2}

    ev = load(spark, sf, "events").select(
        F.col("event_id").alias("eid"),
        F.col("event_type").alias("etype"),
        F.round(F.col("value") * 100).cast("long").alias("vm"),
    )

    def _frames(batches):
        for pdf in batches:
            bodies = []
            for eid, etype, vm in zip(pdf["eid"], pdf["etype"], pdf["vm"]):
                eid = int(eid)
                sid = 7 if eid % 2 == 0 else 9
                rec = {"eid": eid, "etype": str(etype)}
                if sid == 9:
                    rec["vm"] = int(vm)
                out = bytearray(b"\x00" + sid.to_bytes(4, "big"))
                encode_value(out, registry[sid], rec)
                bodies.append(bytes(out))
            yield pd.DataFrame({"body": bodies})

    frames = ev.mapInPandas(_frames, schema="body binary")
    dec = decode_confluent_frames(frames, registry)
    return dec.where("valid").groupBy(
        "schema_id", F.element_at("record", "etype").alias("etype")
    ).agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.element_at("record", "eid").cast("long")).alias("eid_sum"),
        F.sum(
            F.coalesce(F.element_at("record", "vm").cast("long"), F.lit(0))
        ).alias("vm_sum"),
    )


# ---------------------------------------------------------------------------
# REAL row-group pruning (sources/parquet_meta.py::rowgroup_zone_maps +
# operators/skipping.py::prune_scan) — zone maps decoded from REAL parquet
# footer Statistics, not synthesized manifests: the full loop from layout
# to skipped row groups with zero data pages touched.
# ---------------------------------------------------------------------------
@register(
    "parquet_rowgroup_pruning",
    """
    WITH r AS (
        SELECT user_id, ROW_NUMBER() OVER (ORDER BY user_id, event_id) - 1
                   AS rn
        FROM events
    ),
    g AS (
        SELECT rn // 500 AS file_id, COUNT(*) AS n_rows,
               MIN(user_id) AS user_id_min, MAX(user_id) AS user_id_max
        FROM r GROUP BY 1
    )
    SELECT CAST(file_id AS BIGINT) AS file_id,
           CAST(n_rows AS BIGINT) AS n_rows,
           user_id_min, user_id_max,
           (user_id_min IS NOT NULL AND user_id_max >= 40
            AND user_id_min <= 59) AS must_read
    FROM g
    """,
)
def q_parquet_rowgroup_pruning(spark: SparkSession, sf: str) -> DataFrame:
    """Row-group pruning over REAL footer statistics: events clustered by
    user_id into 500-row parquet row groups (pyarrow-written fixture),
    the min/max Statistics decoded from the footer by the repo's own
    thrift walk (sources/parquet_meta.py::rowgroup_zone_maps — no data
    page is ever read), then the user-range workload pruned with
    operators/skipping.py::prune_scan.  Clustering makes most groups
    skippable — the measured point of `zorder_layout_compare`, now
    against the real file format.  The oracle recomputes each group's
    envelope closed-form from the deterministic sort."""
    import io
    import os
    import tempfile

    import pandas as pd

    from .operators.skipping import prune_scan
    from .sources.parquet_meta import rowgroup_zone_maps

    ev = load(spark, sf, "events").select("user_id", "event_id")

    def _write(pdf: pd.DataFrame) -> pd.DataFrame:
        import pyarrow as pa
        import pyarrow.parquet as pq

        pdf = pdf.sort_values(["user_id", "event_id"])
        sink = io.BytesIO()
        pq.write_table(
            pa.Table.from_pandas(pdf[["user_id", "event_id"]], preserve_index=False),
            sink,
            row_group_size=500,
            compression="SNAPPY",
        )
        return pd.DataFrame({"body": [sink.getvalue()]})

    blob = (
        ev.withColumn("_g", F.lit(0))
        .groupBy("_g")
        .applyInPandas(_write, schema="body binary")
        .collect()[0]
        .body
    )
    d = tempfile.mkdtemp(prefix="rg_prune_")
    with open(os.path.join(d, "clustered.parquet"), "wb") as fh:
        fh.write(bytes(blob))
    manifest = rowgroup_zone_maps(spark, d, "user_id").drop("file_name")
    return prune_scan(manifest, [("user_id", 40, 59)])


# ---------------------------------------------------------------------------
# OCC commit-conflict detection (sources/delta_log.py::
# concurrent_commit_conflicts) — the table-format retry-loop check:
# overlapping removes conflict, appends commute.
# ---------------------------------------------------------------------------
@register(
    "occ_commit_conflicts",
    """
    WITH t AS (
        SELECT event_id % 7 AS txn_id,
               CASE WHEN event_id % 3 = 0 THEN 'remove' ELSE 'add' END
                   AS action,
               'part-' || CAST(event_id % 40 AS VARCHAR) || '.parquet' AS path
        FROM events
    ),
    r AS (SELECT DISTINCT txn_id, path FROM t WHERE action = 'remove')
    SELECT a.txn_id AS txn_a, b.txn_id AS txn_b,
           CAST(COUNT(*) AS BIGINT) AS n_overlap
    FROM r a JOIN r b ON a.path = b.path AND a.txn_id < b.txn_id
    GROUP BY 1, 2
    """,
)
def q_occ_commit_conflicts(spark: SparkSession, sf: str) -> DataFrame:
    """OCC commit conflicts (sources/delta_log.py::
    concurrent_commit_conflicts): 7 concurrent commit attempts over a
    40-file table, conflicts = overlapping removes (compactions racing
    on the same inputs), appends commute — the file-level check every
    Delta/Iceberg retry loop runs before re-attempting.  One
    remove-subset self-join on path; oracle replays it."""
    from .sources.delta_log import concurrent_commit_conflicts

    ev = load(spark, sf, "events")
    txns = ev.select(
        (F.col("event_id") % 7).alias("txn_id"),
        F.when(F.col("event_id") % 3 == 0, F.lit("remove"))
        .otherwise(F.lit("add"))
        .alias("action"),
        F.concat(
            F.lit("part-"), (F.col("event_id") % 40).cast("string"),
            F.lit(".parquet"),
        ).alias("path"),
    ).distinct()
    return concurrent_commit_conflicts(txns)


# ---------------------------------------------------------------------------
# Fellegi-Sunter EM (operators/linkage.py::estimate_fs_em_quantized) — the
# m/u estimation the linkage module deferred, in exact micro-unit integers
# over the <=2^F pattern table; every iteration unrolled in the oracle.
# ---------------------------------------------------------------------------
_FS_FIELDS = ["a1", "a2", "a3"]


def _fs_em_oracle_ctes(iterations: int = 3) -> str:
    M = 1_000_000
    fs = _FS_FIELDS
    head = f"""
    WITH pat AS (
        SELECT CAST(event_id % 2 = 0 AS INT) AS a1,
               CAST(event_id % 3 = 0 AS INT) AS a2,
               CAST(user_id % 5 = 0 AS INT) AS a3,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2, 3
    ),
    tot AS (SELECT CAST(SUM(n) AS HUGEINT) AS nt FROM pat),
    s0 AS (SELECT {", ".join(f"CAST(900000 AS HUGEINT) AS m_{f}" for f in fs)},
                  {", ".join(f"CAST(100000 AS HUGEINT) AS u_{f}" for f in fs)},
                  CAST(100000 AS HUGEINT) AS p)"""
    body = ""
    for t in range(1, iterations + 1):
        wprod = " * ".join(
            f"(CASE WHEN pat.{f} = 1 THEN s.m_{f} ELSE {M} - s.m_{f} END)"
            for f in fs
        )
        vprod = " * ".join(
            f"(CASE WHEN pat.{f} = 1 THEN s.u_{f} ELSE {M} - s.u_{f} END)"
            for f in fs
        )
        nm = ", ".join(
            f"CAST(SUM(n * g * {f}) AS HUGEINT) AS nm_{f}" for f in fs
        )
        nu = ", ".join(
            f"CAST(SUM(n * ({M} - g) * {f}) AS HUGEINT) AS nu_{f}" for f in fs
        )
        newm = ", ".join(
            f"GREATEST(1, LEAST({M - 1}, (nm_{f} * {M}) // den_g)) AS m_{f}"
            for f in fs
        )
        newu = ", ".join(
            f"GREATEST(1, LEAST({M - 1}, (nu_{f} * {M}) //"
            f" ((SELECT nt FROM tot) * {M} - den_g))) AS u_{f}"
            for f in fs
        )
        body += f""",
    g{t} AS (
        SELECT pat.*,
               ((s.p * {wprod}) * {M})
               // (s.p * {wprod} + ({M} - s.p) * {vprod}) AS g
        FROM pat, s{t - 1} s
    ),
    agg{t} AS (
        SELECT CAST(SUM(n * g) AS HUGEINT) AS den_g, {nm}, {nu}
        FROM g{t}
    ),
    s{t} AS (
        SELECT {newm}, {newu},
               GREATEST(1, LEAST({M - 1},
                   den_g // (SELECT nt FROM tot))) AS p
        FROM agg{t}
    )"""
    # closing E-step with the final parameters
    wprod = " * ".join(
        f"(CASE WHEN pat.{f} = 1 THEN s.m_{f} ELSE {M} - s.m_{f} END)"
        for f in fs
    )
    vprod = " * ".join(
        f"(CASE WHEN pat.{f} = 1 THEN s.u_{f} ELSE {M} - s.u_{f} END)"
        for f in fs
    )
    body += f""",
    gfinal AS (
        SELECT pat.*,
               ((s.p * {wprod}) * {M})
               // (s.p * {wprod} + ({M} - s.p) * {vprod}) AS g
        FROM pat, s{iterations} s
    )"""
    return head + body


@register(
    "fs_em_params",
    _fs_em_oracle_ctes()
    + f"""
    SELECT field, CAST(m_micro AS BIGINT) AS m_micro,
           CAST(u_micro AS BIGINT) AS u_micro
    FROM (
        {" UNION ALL ".join(
            f"SELECT '{f}' AS field, m_{f} AS m_micro, u_{f} AS u_micro FROM s3"
            for f in _FS_FIELDS
        )}
        UNION ALL SELECT '_prevalence', p, p FROM s3
    )
    """,
)
def q_fs_em_params(spark: SparkSession, sf: str) -> DataFrame:
    """Fellegi-Sunter EM parameters (operators/linkage.py::
    estimate_fs_em_quantized): 3 EM rounds over the 8-row agreement-
    pattern table of a closed-form pair fixture — m/u per field plus the
    match prevalence, all micro-unit integers; the oracle unrolls every
    E/M round (DECIMAL products, truncating DIVs, the [1, 999999]
    clamp) and must land on identical parameters."""
    from .operators.linkage import estimate_fs_em_quantized

    ev = load(spark, sf, "events")
    agr = ev.select(
        (F.col("event_id") % 2 == 0).alias("a1"),
        (F.col("event_id") % 3 == 0).alias("a2"),
        (F.col("user_id") % 5 == 0).alias("a3"),
    )
    params, _ = estimate_fs_em_quantized(agr, _FS_FIELDS, iterations=3)
    return params


@register(
    "fs_em_posteriors",
    _fs_em_oracle_ctes()
    + """
    SELECT a1, a2, a3, CAST(n AS BIGINT) AS n_pairs,
           CAST(g AS BIGINT) AS posterior_micro
    FROM gfinal
    """,
)
def q_fs_em_posteriors(spark: SparkSession, sf: str) -> DataFrame:
    """Per-pattern match posteriors after the final EM round (the table
    `fs_score` consumers threshold) — same fixture and unrolled oracle
    as `fs_em_params`, closing E-step included."""
    from .operators.linkage import estimate_fs_em_quantized

    ev = load(spark, sf, "events")
    agr = ev.select(
        (F.col("event_id") % 2 == 0).alias("a1"),
        (F.col("event_id") % 3 == 0).alias("a2"),
        (F.col("user_id") % 5 == 0).alias("a3"),
    )
    _, post = estimate_fs_em_quantized(agr, _FS_FIELDS, iterations=3)
    return post


# ---------------------------------------------------------------------------
# Composed corpus prep v4: HTML -> Markdown -> token cut -> per-source
# stats — the new linearizer inside the production chain, whole chain
# replayed in SQL.
# ---------------------------------------------------------------------------
@register(
    "training_pipeline_markdown",
    f"""
    WITH md AS (
        SELECT doc_id, source, {_md_sql(_MD_HTML_SQL)} AS md
        FROM documents
    ),
    toks AS (
        SELECT doc_id, source,
               len(list_filter(string_split_regex(md, '\\s+'),
                               t -> t <> '')) AS n_tokens,
               length(md) AS n_chars
        FROM md
    ),
    kept AS (SELECT * FROM toks WHERE n_tokens >= 30)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS docs,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM kept GROUP BY source
    """,
)
def q_training_pipeline_markdown(spark: SparkSession, sf: str) -> DataFrame:
    """Composed corpus prep v4: page synthesis -> html_to_markdown (the
    ~30-pass linearizer) -> whitespace token cut (>= 30) -> per-source
    doc/token/char stats — every stage the production operator, the
    whole chain (markdown passes included) replayed in the oracle."""
    from .functions.markdown import html_to_markdown

    docs = load_docs_spread(spark, sf)
    html = F.concat(
        F.lit("<html><body><h1>Doc "),
        F.col("doc_id").cast("string"),
        F.lit(" &amp; notes</h1><p>From <b>"),
        F.col("source"),
        F.lit("</b> in <em>"),
        F.col("lang"),
        F.lit("</em>.</p><ul><li>chars: <code>"),
        F.col("n_chars").cast("string"),
        F.lit('</code></li><li><a href="https://x/'),
        F.col("doc_id").cast("string"),
        F.lit('">self</a></li></ul><p>'),
        F.col("text"),
        F.lit("</p></body></html>"),
    )
    md = docs.select(
        "doc_id", "source", html_to_markdown(html).alias("md")
    )
    toks = md.select(
        "doc_id",
        "source",
        F.size(
            F.filter(F.split(F.col("md"), r"\s+"), lambda t: t != "")
        ).alias("n_tokens"),
        F.length("md").alias("n_chars"),
    )
    return (
        toks.where(F.col("n_tokens") >= 30)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_tokens").alias("tokens"),
            F.sum("n_chars").alias("chars"),
        )
    )


# ---------------------------------------------------------------------------
# Point-in-time feature join (operators/asof.py::point_in_time_features) —
# the feature-store training-set builder: strictly-before snapshots only,
# two prefixed feature tables, leakage impossible by construction.
# ---------------------------------------------------------------------------
@register(
    "feature_pit_training_set",
    """
    WITH labels AS (
        SELECT event_id AS label_id, user_id, ts,
               CAST(value > 10 AS INT) AS label
        FROM events WHERE event_type = 'purchase'
    ),
    fa AS (
        SELECT user_id, fts,
               CAST(SUM(cnt) OVER (PARTITION BY user_id ORDER BY fts)
                    AS BIGINT) AS views
        FROM (
            SELECT user_id, date_trunc('hour', ts) AS fts, COUNT(*) AS cnt
            FROM events WHERE event_type = 'view' GROUP BY 1, 2
        )
    ),
    fb AS (
        SELECT user_id, date_trunc('day', ts) AS fts,
               CAST(MAX(event_id) % 50 AS BIGINT) AS score
        FROM events WHERE event_id % 97 = 0 GROUP BY 1, 2
    ),
    ja AS (
        SELECT l.label_id, f.views
        FROM labels l JOIN fa f
          ON f.user_id = l.user_id AND f.fts < l.ts
        QUALIFY ROW_NUMBER() OVER (PARTITION BY l.label_id
                                   ORDER BY f.fts DESC) = 1
    ),
    jb AS (
        SELECT l.label_id, f.score
        FROM labels l JOIN fb f
          ON f.user_id = l.user_id AND f.fts < l.ts
        QUALIFY ROW_NUMBER() OVER (PARTITION BY l.label_id
                                   ORDER BY f.fts DESC) = 1
    )
    SELECT l.label_id, l.user_id,
           strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS ts, l.label,
           ja.views AS hist_views, jb.score AS dim_score
    FROM labels l
    LEFT JOIN ja ON ja.label_id = l.label_id
    LEFT JOIN jb ON jb.label_id = l.label_id
    """,
)
def q_feature_pit_training_set(spark: SparkSession, sf: str) -> DataFrame:
    """Point-in-time training set (operators/asof.py::
    point_in_time_features): purchase labels pick up, from two feature
    tables (hourly rolling view counts; sparse dim snapshots), the
    newest snapshot STRICTLY before each label instant — the
    feature-store join whose whole job is making temporal leakage
    impossible.  One asof pass per table, attributes prefixed; the
    oracle replays both strictly-before lookups with windowed argmax."""
    from .operators.asof import point_in_time_features
    from pyspark.sql.window import Window

    ev = load(spark, sf, "events")
    labels = ev.where("event_type = 'purchase'").select(
        F.col("event_id").alias("label_id"),
        "user_id",
        "ts",
        (F.col("value") > 10).cast("int").alias("label"),
    )
    hourly = (
        ev.where("event_type = 'view'")
        .groupBy("user_id", F.date_trunc("hour", "ts").alias("fts"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    fa = hourly.select(
        "user_id",
        "fts",
        F.sum("cnt")
        .over(Window.partitionBy("user_id").orderBy("fts"))
        .cast("long")
        .alias("views"),
    )
    fb = (
        ev.where("event_id % 97 = 0")
        .groupBy("user_id", F.date_trunc("day", "ts").alias("fts"))
        .agg((F.max("event_id") % 50).cast("long").alias("score"))
    )
    out = point_in_time_features(
        labels,
        [("hist", fa, "fts"), ("dim", fb, "fts")],
        ["user_id"],
        ts_col="ts",
        strict=True,
    )
    return out.select(
        "label_id",
        "user_id",
        _fmt_ts(F.col("ts")).alias("ts"),
        "label",
        F.col("hist_views"),
        F.col("dim_score"),
    )


# ---------------------------------------------------------------------------
# Native hopping (sliding) windows — F.window(slide): each event lands in
# window_len/slide overlapping windows via Catalyst's Expand, one shuffle.
# ---------------------------------------------------------------------------
@register(
    "agg_hopping_windows",
    """
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS docs,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS vm_sum
    FROM (
        SELECT event_type, value,
               to_timestamp((CAST(FLOOR(epoch(ts)) AS BIGINT) // 1800) * 1800
                            - k.k * 1800) AS ws
        FROM events, (SELECT unnest(range(0, 4)) AS k) k
    )
    GROUP BY 1, 2
    """,
)
def q_agg_hopping_windows(spark: SparkSession, sf: str) -> DataFrame:
    """Hopping-window aggregation via native F.window(slide): 2-hour
    windows every 30 minutes — each event expands into 4 overlapping
    windows map-side (Catalyst Expand, one shuffle total), the SLA/
    trending shape tumbling intervals can't express.  The oracle expands
    the same 4 epoch-aligned window starts per event."""
    ev = load(spark, sf, "events")
    return (
        ev.groupBy(
            F.window("ts", "2 hours", "30 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("vm_sum"),
        )
        .select(
            _fmt_ts(F.col("w.start")).alias("window_start"),
            "event_type",
            "docs",
            "vm_sum",
        )
    )


# ---------------------------------------------------------------------------
# W3C Extended Log Format (sources/decoders.py::decode_w3c_extlog) — the
# self-describing text log: schema travels in the #Fields directive, two
# shard parities carry DIFFERENT field sets, all JVM (map_from_arrays).
# ---------------------------------------------------------------------------
@register(
    "w3c_extlog_decode",
    """
    SELECT CASE WHEN event_id % 4 = 0 THEN 'POST'
                WHEN event_id % 4 = 1 THEN 'GET'
                WHEN event_id % 4 = 2 THEN 'PUT' ELSE 'HEAD' END AS method,
           COUNT(*) AS docs,
           CAST(SUM(200 + (event_id % 3) * 100) AS BIGINT) AS status_sum,
           CAST(SUM(CASE WHEN event_id % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS tt_null,
           CAST(SUM(CASE WHEN event_id % 13 <> 0 THEN event_id % 1000 END)
                AS BIGINT) AS tt_sum,
           CAST(SUM(CASE WHEN event_id % 16 >= 8 THEN 1 ELSE 0 END) AS BIGINT)
               AS with_host
    FROM events GROUP BY 1
    """,
)
def q_w3c_extlog_decode(spark: SparkSession, sf: str) -> DataFrame:
    """W3C extended logs (sources/decoders.py::decode_w3c_extlog): events
    rendered per shard as real #Version/#Fields files — EVEN shards carry
    5 fields, ODD shards add cs-host, so the decoder must read each
    file's own schema — then decoded positionally into dynamic
    map<string,string> rows, '-' as NULL, entirely JVM.  The oracle
    predicts every aggregate (incl. which parity carries cs-host)
    closed-form."""
    from .sources.decoders import decode_w3c_extlog

    ev = load(spark, sf, "events")
    eid = F.col("event_id")
    shard = (eid % 16).alias("shard")
    method = (
        F.when(eid % 4 == 0, F.lit("POST"))
        .when(eid % 4 == 1, F.lit("GET"))
        .when(eid % 4 == 2, F.lit("PUT"))
        .otherwise(F.lit("HEAD"))
    )
    base_line = F.concat_ws(
        " ",
        F.date_format("ts", "yyyy-MM-dd"),
        F.date_format("ts", "HH:mm:ss"),
        F.concat(F.lit("10.0."), (F.col("user_id") % 25).cast("string"), F.lit(".1")),
        method,
        (F.lit(200) + (eid % 3) * 100).cast("string"),
        F.when(eid % 13 == 0, F.lit("-")).otherwise((eid % 1000).cast("string")),
    )
    line = F.when(
        eid % 16 >= 8,
        F.concat(base_line, F.lit(" h"), (F.col("user_id") % 5).cast("string")),
    ).otherwise(base_line)
    hdr = F.when(
        F.col("shard") >= 8,
        F.lit(
            "#Version: 1.0\n#Fields: date time c-ip cs-method sc-status"
            " time-taken cs-host"
        ),
    ).otherwise(
        F.lit(
            "#Version: 1.0\n#Fields: date time c-ip cs-method sc-status"
            " time-taken"
        )
    )
    bodies = (
        ev.select(shard, eid.alias("eid"), line.alias("line"))
        .groupBy("shard")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("eid", "line"))),
                    lambda x: x["line"],
                ),
                "\n",
            ).alias("_lines")
        )
        .select(
            F.encode(
                F.concat(hdr, F.lit("\n"), F.col("_lines")), "UTF-8"
            ).alias("body")
        )
    )
    dec = decode_w3c_extlog(bodies)
    m = F.col("fields")
    return (
        dec.where("valid")
        .groupBy(F.element_at(m, "cs-method").alias("method"))
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.element_at(m, "sc-status").cast("long")).alias("status_sum"),
            F.sum(F.element_at(m, "time-taken").isNull().cast("int"))
            .cast("long")
            .alias("tt_null"),
            F.sum(F.element_at(m, "time-taken").cast("long")).alias("tt_sum"),
            F.sum(F.map_contains_key(m, "cs-host").cast("int"))
            .cast("long")
            .alias("with_host"),
        )
    )


# ---------------------------------------------------------------------------
# systemd journal export intake (sources/journald.py) — text fields +
# u64-framed binary values; every framing rule breaks the hash if wrong.
# ---------------------------------------------------------------------------
@register(
    "journald_export_decode",
    """
    SELECT 'h' || (user_id % 20) AS hostname,
           COUNT(*) AS docs,
           CAST(SUM(event_id % 8) AS BIGINT) AS prio_sum,
           CAST(SUM(CAST(FLOOR(epoch(ts)) AS BIGINT) % 86400) AS BIGINT)
               AS day_sec_sum,
           CAST(SUM(CASE WHEN event_id % 11 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_binary,
           CAST(SUM(CASE WHEN event_id % 11 = 0
                THEN length('line1 e' || event_id || chr(10) || 'line2')
                ELSE length('msg ' || event_id) END) AS BIGINT) AS msg_bytes
    FROM events GROUP BY 1
    """,
)
def q_journald_export_decode(spark: SparkSession, sf: str) -> DataFrame:
    """journald export round trip (sources/journald.py): events rendered
    as real export blobs — NAME=value text fields plus u64-size-framed
    BINARY MESSAGEs for every 11th entry (the form newline-bearing
    values must take) — and parsed back by the byte-walk decoder.  The
    oracle predicts hosts, priorities, timestamp micros, binary counts,
    and exact message byte lengths closed-form."""
    from .sources.journald import decode_journal_export, generate_journal_export

    dec = decode_journal_export(generate_journal_export(load(spark, sf, "events")))
    return dec.where("valid").groupBy("hostname").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("priority").cast("long").alias("prio_sum"),
        F.sum((F.col("realtime_us") / 1000000).cast("long") % 86400)
        .cast("long")
        .alias("day_sec_sum"),
        F.sum(F.col("msg_was_binary").cast("int")).cast("long").alias("n_binary"),
        F.sum("msg_bytes").alias("msg_bytes"),
    )


# ---------------------------------------------------------------------------
# Snappy FRAMING transport (functions/snappy_codec.py::frame_*) — the
# streaming .sz container with per-chunk masked CRC-32C, completing the
# codec's block half; bodies above the 2 KiB gate chunk size exercise
# multi-chunk framing.
# ---------------------------------------------------------------------------
@register(
    "snappy_framed_roundtrip",
    """
    SELECT event_id,
           'evt=' || event_type || ' u=' || (user_id % 100)
               || ' pad=' || repeat('xyz', (event_id % 120) * 12) AS line
    FROM events
    """,
)
def q_snappy_framed_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Snappy framing round trip (functions/snappy_codec.py::
    frame_compress/frame_decompress over sources/decoders.py wrappers):
    per-event text bodies (up to ~4.3 KiB) framed with a 2 KiB chunk
    size — genuinely multi-chunk streams with per-chunk masked CRC-32C
    verified on the way back —
    through the pure-Python block codec underneath.  The oracle
    restates the bodies closed-form; any framing, CRC-mask, or block
    defect breaks the hash."""
    from .sources.decoders import (
        snappy_frame_pack_bodies,
        snappy_frame_unpack_bodies,
    )

    ev = load(spark, sf, "events").select(
        "event_id",
        F.encode(
            F.concat(
                F.lit("evt="), F.col("event_type"),
                F.lit(" u="),
                F.pmod(F.col("user_id"), F.lit(100)).cast("string"),
                F.lit(" pad="),
                F.repeat(
                    F.lit("xyz"),
                    (F.pmod(F.col("event_id"), F.lit(120)) * 12).cast("int"),
                ),
            ),
            "utf-8",
        ).alias("body"),
    )
    back = snappy_frame_unpack_bodies(
        snappy_frame_pack_bodies(ev, "body", chunk_size=2048), "body"
    )
    return back.select(
        "event_id", F.decode(F.col("body"), "utf-8").alias("line")
    )


# ---------------------------------------------------------------------------
# Checkpoint crash-resume equivalence (S4, plans/checkpoint.py): the
# partition-range commit units run with an INJECTED CRASH after 2 of 4
# units, then resume; the resumed run must skip the completed units and
# the union of unit outputs must equal the uninterrupted batch answer.
# Value sums are quantized to BIGINT so unit-then-total aggregation is
# exact integer math (no float re-association across units).
# ---------------------------------------------------------------------------
@register(
    "checkpoint_resume_pipeline",
    """
    SELECT CASE WHEN event_type = 'error' THEN 'logs.error'
                ELSE 'logs.' || event_type END AS sink,
           COUNT(*) AS docs,
           CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS BIGINT) AS value_q
    FROM events GROUP BY 1
    """,
)
def q_checkpoint_resume_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """Write-then-mark resumability (plans/checkpoint.py::run_resumable;
    cites receiver/akamaisiemreceiver/internal/cursor/cursor.go:34-94):
    4 disjoint event_id-range units each write their routed per-sink
    aggregate; the first run crashes after 2 units (fail_after hook),
    the second run resumes — asserted to SKIP the 2 done units — and
    the merged unit outputs must hash-match the direct batch oracle.
    This is the north rule's 'resumable from checkpoint' requirement
    as an exact gate instead of a pytest-only claim."""
    import shutil
    import tempfile

    from .plans.checkpoint import partition_units, run_resumable

    ev = load(spark, sf, "events")
    n_rows = int(ev.agg(F.max("event_id")).collect()[0][0]) + 1
    tmp = tempfile.mkdtemp(prefix="ckpt_gate_")

    def build(lo: int, hi: int) -> DataFrame:
        return (
            ev.where((F.col("event_id") >= lo) & (F.col("event_id") < hi))
            .withColumn(
                "sink",
                F.when(
                    F.col("event_type") == "error", F.lit("logs.error")
                ).otherwise(F.concat(F.lit("logs."), F.col("event_type"))),
            )
            .groupBy("sink")
            .agg(
                F.count(F.lit(1)).alias("docs"),
                F.sum(F.round(F.col("value") * 10000).cast("long")).alias(
                    "value_q"
                ),
            )
        )

    def write(df: DataFrame, i: int) -> int:
        path = f"{tmp}/units/unit_{i:05d}"
        df.write.mode("overwrite").parquet(path)
        # rows_out from the tiny written output — never recompute the
        # aggregation a second time just for checkpoint metadata
        return spark.read.parquet(path).count()

    units = partition_units(build, n_rows, 4, write)
    try:
        try:
            run_resumable(spark, tmp, units, fail_after=2)
            raise AssertionError("injected crash did not fire")
        except RuntimeError as e:
            # only the fail_after hook is expected; a genuine unit
            # failure must surface, not masquerade as the injection
            assert "injected failure" in str(e), e
        status = run_resumable(spark, tmp, units)
        assert sorted(status.values()) == ["done", "done", "skipped", "skipped"], status
        res = (
            spark.read.parquet(f"{tmp}/units/*")
            .groupBy("sink")
            .agg(
                F.sum("docs").cast("long").alias("docs"),
                F.sum("value_q").cast("long").alias("value_q"),
            )
        )
        return spark.createDataFrame(res.collect(), res.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# Fan-out routed-row-set equality (R3/K1, plans/sinks.py::write_fanout):
# the single-pass partitionBy fan-out write, then each sink directory
# read back SEPARATELY (the consumer's view) — per-sink row count,
# distinct users, and quantized value sum must equal the direct batch
# group — i.e. every routed row landed in exactly its sink, none lost,
# none duplicated, none misrouted.
# ---------------------------------------------------------------------------
@register(
    "fanout_sink_counts",
    """
    SELECT CASE WHEN event_type = 'error' THEN 'logs.error'
                ELSE 'logs.' || event_type END AS sink,
           COUNT(*) AS docs,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users,
           CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS BIGINT) AS value_q
    FROM events GROUP BY 1
    """,
)
def q_fanout_sink_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Data-stream fan-out as one partitioned write (the single-pass
    re-expression of elasticsearchexporter per-data-stream routing +
    routing-connector splits): write_fanout partitions by the sink
    column; the gate then reads EACH sink directory on its own and
    recomputes the per-sink profile, proving routed-row-set equality
    through the filesystem boundary, not just inside one plan."""
    import os
    import shutil
    import tempfile

    from .plans.sinks import write_fanout

    ev = load(spark, sf, "events").withColumn(
        "sink",
        F.when(F.col("event_type") == "error", F.lit("logs.error")).otherwise(
            F.concat(F.lit("logs."), F.col("event_type"))
        ),
    )
    tmp = tempfile.mkdtemp(prefix="fanout_gate_")
    try:
        out = write_fanout(ev, tmp, "sink")
        # partition dir names carry Spark's URI escaping — unquote for
        # the emitted sink VALUE, keep the raw dir name for the path
        from urllib.parse import unquote

        sinks = sorted(
            (unquote(d.split("=", 1)[1]), d)
            for d in os.listdir(out)
            if d.startswith("sink=")
        )
        per = None
        for s, d in sinks:
            one = (
                spark.read.parquet(f"{out}/{d}")
                .agg(
                    F.count(F.lit(1)).alias("docs"),
                    F.count_distinct("user_id").cast("long").alias("users"),
                    F.sum(F.round(F.col("value") * 10000).cast("long"))
                    .cast("long")
                    .alias("value_q"),
                )
                .select(F.lit(s).alias("sink"), "docs", "users", "value_q")
            )
            per = one if per is None else per.unionByName(one)
        return spark.createDataFrame(per.collect(), per.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# FLAGSHIP e2e pipeline gate: the full declarative spec chain (parse ->
# enrich -> derive -> route with ${var:default} template substitution ->
# multi-interval rollup) over the replayable pages generator, against an
# oracle that rebuilds EVERY row from range(n) and re-derives the per-sink
# interval aggregates independently.  All-integer metrics, so the hash
# equality is exact — this is the north rule's "per-sink aggregate counts"
# correctness phrase as a registered gate over the flagship shape itself.
# ---------------------------------------------------------------------------
_E2E_N = 20000


def _pipeline_e2e_oracle_sql(n: int) -> str:
    base_cols = f"""
    WITH p AS (
        SELECT range AS id,
               CASE WHEN range % 5 = 0
                    THEN 'hot' || CAST(range % 3 AS VARCHAR) || '.example.com'
                    ELSE 'd' || CAST(range % 47 AS VARCHAR) || '.example.org'
               END AS domain,
               make_timestamp(CAST((1767225600 + range % 86400) AS BIGINT)
                              * 1000000) AS warc_ts,
               CASE WHEN range % 100 = 0 THEN NULL
                    WHEN range % 10 <= 6 THEN 'INFO'
                    WHEN range % 10 <= 8 THEN 'WARN'
                    ELSE 'ERROR' END AS level,
               CASE WHEN range % 100 = 0 THEN NULL
                    ELSE 100 + (range * 7) % 500 END AS code,
               (range * 131) % 1000000 AS dur_us,
               (range % 100 = 0) AS malformed
        FROM range({n})
    ),
    dim AS (
        SELECT 'hot' || CAST(i AS VARCHAR) || '.example.com' AS domain,
               i AS idx
        FROM range(3) t(i)
        UNION ALL
        SELECT 'd' || CAST(i AS VARCHAR) || '.example.org', i + 3
        FROM range(42) t(i)
    ),
    routed AS (
        SELECT p.*,
               CASE WHEN dim.idx IS NULL THEN 'unknown'
                    ELSE CASE dim.idx % 3 WHEN 0 THEN 'us'
                                          WHEN 1 THEN 'eu'
                                          ELSE 'apac' END
               END AS geo,
               CASE WHEN p.malformed OR p.level = 'ERROR' THEN 'logs.error'
                    ELSE 'logs.' ||
                         CASE WHEN dim.idx IS NULL THEN 'unknown'
                              ELSE CASE dim.idx % 4 WHEN 0 THEN 'news'
                                                    WHEN 1 THEN 'shop'
                                                    WHEN 2 THEN 'blog'
                                                    ELSE 'docs' END
                         END
               END AS sink,
               CASE WHEN p.code IS NOT NULL AND p.code < 400
                    THEN 1 ELSE 0 END AS succ,
               CASE WHEN p.code IS NOT NULL AND p.code >= 400
                    THEN 1 ELSE 0 END AS fail
        FROM p LEFT JOIN dim ON p.domain = dim.domain
    )"""
    agg = """
        SELECT CAST(FLOOR(epoch(warc_ts) / {secs}) * {secs} AS BIGINT) AS w,
               sink, geo,
               COUNT(*) AS docs,
               CAST(SUM(dur_us) AS BIGINT) AS dur_us_sum,
               CAST(SUM(succ) AS BIGINT) AS success_count,
               CAST(SUM(fail) AS BIGINT) AS failure_count,
               CAST(MIN(dur_us) AS BIGINT) AS dur_us_min,
               CAST(MAX(dur_us) AS BIGINT) AS dur_us_max,
               '{ivl}' AS metricset_interval
        FROM routed GROUP BY 1, 2, 3"""
    arms = " UNION ALL ".join(
        agg.format(secs=secs, ivl=ivl) for ivl, secs in [("1m", 60), ("60m", 3600)]
    )
    return f"""{base_cols}
    SELECT strftime(make_timestamp(w * 1000000), '%Y-%m-%d %H:%M:%S')
               AS window_start,
           sink, geo, 'prod' AS namespace, metricset_interval,
           sink || '.' || metricset_interval AS dataset,
           docs, dur_us_sum, success_count, failure_count,
           dur_us_min, dur_us_max
    FROM ({arms})
    """


@register("pipeline_e2e_pages", _pipeline_e2e_oracle_sql(_E2E_N))
def q_pipeline_e2e_pages(spark: SparkSession, sf: str) -> DataFrame:
    """The flagship chain end-to-end as ONE exact gate: replayable pages
    generator -> PipelineSpec [parse(sql regex), enrich(broadcast domain
    dim), derive(outcome buckets), route(namespace via ``${ns:prod}``
    template default — pkg/integrations/rawtemplate.go analog)] ->
    interval_rollup_union at 1m+60m keyed by (sink, geo, namespace).
    The Spark side REALLY parses the log text with the production regex;
    the oracle never sees the text — it rebuilds the expected fields
    arithmetically from range(n), so the two derivations are fully
    independent.  All metrics are integers: exact hash equality, no
    float rounding anywhere."""
    from .operators.aggregate import interval_rollup_union
    from .plans.pipeline import PipelineSpec
    from .sources.pages import generate_pages

    spec = PipelineSpec(
        stages=[
            {"type": "parse", "engine": "sql"},
            {"type": "enrich"},
            {"type": "derive"},
            {"type": "route", "namespace": "${ns:prod}"},
        ]
    )
    pages = generate_pages(spark, _E2E_N, replayable=True)
    routed = spec.build(pages, spark, variables={})
    out = interval_rollup_union(
        routed,
        keys=["sink", "geo", "namespace"],
        intervals=("1m", "60m"),
    )
    return out.select(
        _fmt_ts(F.col("window_start")).alias("window_start"),
        "sink",
        "geo",
        "namespace",
        "metricset_interval",
        "dataset",
        "docs",
        "dur_us_sum",
        "success_count",
        "failure_count",
        "dur_us_min",
        "dur_us_max",
    )


_DRIVER_PRIORITY = [
    # round-5 snapshot: 50 never-driver-seen names (per-round rotation,
    # VERDICT r4 directive #1 — duplicates later in this list are
    # harmless: first occurrence wins in the reorder)
    "dbscan_embeddings_lsh", "streaming_interval_late_drop",
    "checkpoint_resume_pipeline", "fanout_sink_counts", "pipeline_e2e_pages",
    "otlp_log_roundtrip", "otlp_metrics_roundtrip",
    "otlp_traces_roundtrip", "otlp_spanmetrics_red", "trace_head_sampling",
    "bh_fdr_segments",
    "log_trace_correlation", "pii_luhn_cards",
    "webgraph_neighborhood_function", "otlp_pipeline_e2e",
    "streaming_otlp_intake", "text_segment_lang_profile",
    "host_kcore_membership", "host_harmonic_centrality",
    "hyperball_neighborhood", "mann_whitney_events", "privacy_t_closeness",
    "privacy_t_closeness_ordered",
    "host_components_star", "label_agreement_krippendorff",
    "experiment_diff_in_diff", "jonckheere_trend_events",
    "syslog_decode", "syslog_pipeline", "spearman_doc_stats",
    "dict_phrase_hits",
    "hashed_features_docs", "seasonal_decompose_hourly", "geohash_cells",
    "chi_square_events",
    "na_hazard_cohorts", "hampel_filter_hourly", "isotonic_calibration",
    "classifier_lift_curve",
    "classifier_avg_precision", "classifier_brier", "host_communities_lpa",
    "hilbert_layout_keys",
    "ewma_anomaly_hourly", "streaming_ewma_anomaly", "sax_words_hourly",
    "sax_motifs_hourly",
    "classifier_auc", "classifier_confusion", "classifier_calibration",
    # session-n additions (driver-seen r04)
    "kmv_distinct_users", "kmv_set_overlap",
    "zonemap_file_skipping", "zonemap_layout_compare",
    "html_to_markdown_docs", "parquet_page_decode",
    "bloom_point_skipping", "embedding_pca_power",
    "unigram_tokenize", "ccnet_perplexity_buckets",
    "forecast_backtest_hourly", "kmeans_parallel_seeds",
    "avro_schema_resolution", "streaming_scd2",
    "graph_random_walks", "graph_skipgram_pairs",
    "arrow_stream_decode", "rollup_traffic_totals",
    "graph_skipgram_negatives", "cbor_records_roundtrip",
    "agg_incremental_merge", "gopher_quality_rules",
    "debezium_cdc_apply", "confluent_wire_decode",
    "parquet_rowgroup_pruning", "occ_commit_conflicts",
    "fs_em_params", "fs_em_posteriors", "training_pipeline_markdown",
    "feature_pit_training_set", "agg_hopping_windows",
    "w3c_extlog_decode", "journald_export_decode",
    "snappy_framed_roundtrip",
    # session-m additions (never driver-seen)
    "gorilla_chunk_roundtrip", "lz4_transport_roundtrip",
    "host_ktruss_edges", "text_readability", "idn_host_decode",
    "streaming_heavy_hitters", "spell_correct_vocab", "gelf_decode_chunked",
    # session-l additions (never driver-seen)
    "otlp_traces_protobuf_roundtrip", "otlp_metrics_protobuf_roundtrip",
    "otlp_protobuf_batched_roundtrip", "otlp_metrics_exemplars",
    "otlp_traces_events_links", "webgraph_bowtie", "cef_decode_roundtrip",
    # session-k additions (never driver-seen)
    "otlp_protobuf_roundtrip",
    "otlp_log_roundtrip", "otlp_metrics_roundtrip",
    "otlp_traces_roundtrip", "otlp_spanmetrics_red",
    "trace_head_sampling", "bh_fdr_segments",
    "log_trace_correlation", "pii_luhn_cards",
    "webgraph_neighborhood_function", "otlp_pipeline_e2e",
    "streaming_otlp_intake", "text_segment_lang_profile",
    "host_kcore_membership", "host_harmonic_centrality",
    "hyperball_neighborhood", "mann_whitney_events",
    "privacy_t_closeness", "privacy_t_closeness_ordered",
    "host_components_star", "label_agreement_krippendorff",
    "experiment_diff_in_diff", "jonckheere_trend_events",
    # session-j additions (never driver-seen)
    "syslog_decode", "syslog_pipeline", "spearman_doc_stats",
    "dict_phrase_hits",
    "hashed_features_docs", "seasonal_decompose_hourly", "geohash_cells",
    "chi_square_events", "na_hazard_cohorts", "hampel_filter_hourly",
    "isotonic_calibration", "classifier_lift_curve",
    "classifier_avg_precision", "classifier_brier",
    "host_communities_lpa",
    "hilbert_layout_keys", "ewma_anomaly_hourly", "streaming_ewma_anomaly",
    "sax_words_hourly", "sax_motifs_hourly",
    "classifier_auc", "classifier_confusion", "classifier_calibration",
    "label_agreement_cohen", "label_agreement_fleiss",
    # session-i additions (never driver-seen)
    "edit_distance_pairs", "forecast_hw_hourly", "multimodal_dhash",
    "image_near_dup", "burst_detection_hourly", "blocklist_category_hits",
    "multimodal_video_dhash", "video_near_dup", "theil_sen_hourly",
    "target_encode_sources", "dbscan_embeddings", "fill_intervals_hourly",
    "embedding_drift_halves",
    # session-h additions (never driver-seen)
    "forecast_holt_hourly", "webgraph_bfs_depth", "conformal_value_band",
    "embedding_int8_topk", "ppr_event_transitions", "km_survival_cohorts",
    "json_schema_drift", "session_paths_events", "attribution_purchases",
    "json_schema_drift_streaming", "quantile_ci_events", "registered_domains", "skew_report_events", "assoc_item_pairs", "entity_resolution_clusters",
    "streaming_ddsketch_quantiles", "weighted_quantile_events",
    "mi_event_features", "benford_value_audit", "skyline_users", "rake_keyphrases_docs", "fd_violation_audit",
    # new this round-4 close session (never driver-seen)
    "ddsketch_quantiles", "cm_heavy_hitters", "hll_overlap_users",
    "grok_parse_access_logs", "geoip_longest_prefix",
    "zorder_layout_keys", "compaction_plan", "bot_detection",
    "trending_decayed_scores", "trending_merge_rollup",
    "balanced_range_splits", "streaming_sketch_distinct",
    "bootstrap_mean_ci", "record_linkage_fs",
    "privacy_k_anonymize", "privacy_l_diversity", "privacy_dp_counts",
    "webgraph_triangles", "shard_assign_rendezvous",
    "interval_gap_detection", "streaming_trending_scores",
    "cs_join_size_estimate", "table_profile_events",
    "hits_event_transitions", "anomaly_seasonal_hourly",
    "url_path_templates", "access_log_pipeline", "experiment_readout",
    "experiment_cuped", "experiment_lift_ci",
    "main_content_extract", "robots_crawl_delays", "hll_distinct_users",
    "decode_html_entities", "article_pipeline",
    # new this session (never driver-seen)
    "anchor_text_counts", "anchor_text_topk",
    "sitemap_parse", "robots_sitemap_urls",
    "fetch_schedule_slots", "refetch_decisions", "decode_html_charset",
    "crawl_budget_allocation", "host_degree_features", "inverted_postings",
    "robots_parse_rules", "robots_url_filter",
    "crawl_snapshot_delta", "recrawl_host_rates",
    "span_tree_depth", "trace_critical_path", "content_sniff_types",
    "phrase_search_docs", "warc_parse_records", "warc_http_responses",
    "weighted_sample_topk", "scd2_history", "redirect_resolution",
    "page_metadata",
    "alert_for_duration", "slo_burn_rate", "service_dependency_map",
    "webgraph_extract_links", "webgraph_host_edges",
    "text_topic_tags", "text_topic_assign",
    "anomaly_mad_daily", "anomaly_cusum_daily",
    "validate_expectations_events", "template_novelty_daily",
    "stitch_multiline_logs", "trace_tail_sampling", "corpus_pmi_collocations",
    "bm25_topk", "retrieval_rrf_fusion", "corpus_drift_psi",
    "streaming_sessionize", "corpus_drift_ks", "text_normalize",
    "dedup_containment", "score_percentile", "score_calibration",
    "bm25_query_join", "drift_timeline_psi",
    "retrieval_eval_metrics", "retrieval_eval_mean", "ql_topk", "cdc_chunks",
    "dedup_snm_pairs",
    # never driver-seen as of CORRECTNESS_r03 (40 names)
    "apm_data_stream_route", "ecs_host_resolution", "apm_dropped_span_stats",
    "apm_tvalue_codec", "training_pipeline", "entity_incremental_sync",
    "enricher_dispatch", "metadata_body_attach", "dedup_minhash_survivors",
    "prw_translate", "intake_txn_decode", "intake_span_decode",
    "intake_error_decode", "intake_metricset_decode", "intake_log_decode",
    "agg_overflow_hierarchical", "ecs_label_remap", "ecs_host_ip",
    "semconv_span_capture", "remap_hostmetrics_full", "prw_decode_e2e",
    "ratelimit_token_bucket", "ratelimit_delay_reservation",
    "text_repetition", "pii_scrub", "dedup_corpus_lines",
    "decontaminate_ngrams", "multimodal_real_decode", "multimodal_png_decode",
    "multimodal_frame_sample", "multimodal_resize_roundtrip",
    "multimodal_jpeg_decode", "prw_export_roundtrip", "sample_by_source",
    "corpus_vocab_stats", "chunk_documents", "training_pipeline_chunks",
    "sample_exact_quota", "pack_sequences", "training_pipeline_full",
    # new gates this round — first driver exposure
    "multimodal_mp4_parse", "ann_recall_floor", "near_dedup_components",
    "url_canonicalize", "url_dedup", "asof_join_range", "asof_join_union",
    "sessionize_events", "session_stats_events",
    "range_lookup_broadcast", "range_lookup_bucketed",
    "counter_rate_events", "histogram_quantile_events",
    "log_template_counts", "tfidf_top_terms", "session_window_native",
    "decontaminate_bloom", "dedup_substring", "dsir_importance",
    "streaming_dedup_exact", "dsir_resample", "domain_boilerplate",
    "streaming_distinct_users", "bpe_learn_merges", "lm_perplexity_scores",
    "sample_assign_splits", "semantic_dedup", "near_dedup_keep_best",
    "dedup_fuzzy_incremental", "semantic_dedup_vec",
    "training_pipeline_incremental", "split_leakage_audit",
    "sample_assign_splits_safe", "unimax_mixture",
    "tpch_q4", "tpch_q7", "tpch_q8", "tpch_q9", "tpch_q12", "tpch_q13",
    "tpch_q15", "tpch_q16", "tpch_q17", "tpch_q19", "tpch_q21", "tpch_q22",
    "tpch_q2", "tpch_q11", "tpch_q20", "embedding_knn_join",
    "winnow_fingerprint_stats", "winnow_overlap_pairs",
    "frequent_items_events",
    "quality_lr_train", "quality_lr_scores", "pagerank_event_transitions",
    "streaming_interval_join", "exact_quantiles_events",
    "funnel_stages_events", "cohort_retention_events", "sample_priority",
    "statsd_decode", "statsd_flush", "prom_text_parse",
    "forward_msgpack_decode", "bpe_encode_tokens", "avro_container_decode",
    "streaming_statsd_gauge", "cumulative_to_delta", "zipkin_span_decode",
    "attribute_actions", "jaeger_batch_decode", "ottl_filter_records",
    "signal_to_metrics", "prw_v2_decode", "signal_to_metrics_exphist",
    "leef_decode_roundtrip", "kafka_batch_decode",
    "http_chunked_roundtrip", "syslog_octet_frames", "parquet_footer_meta",
    "delta_log_replay",
    # flagship regression picks to round out the prefix
    "pipeline_parse", "apm_txn_duration_exphist", "dedup_exact",
    "agg_interval_rollup", "dedup_minhash_lsh_md5", "embedding_ivf_pq_topk",
    "ratelimit_per_key_quota",
]


def _reorder_for_driver() -> None:
    ordered = [n for n in _DRIVER_PRIORITY if n in SPARK_QUERIES]
    ordered += [n for n in SPARK_QUERIES if n not in set(ordered)]
    for registry in (SPARK_QUERIES, ORACLE_SQL):
        snapshot = dict(registry)
        registry.clear()
        registry.update(
            {n: snapshot[n] for n in ordered if n in snapshot}
        )


_reorder_for_driver()
