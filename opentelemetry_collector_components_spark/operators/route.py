"""Route stage: route-key computation + cardinality-based dynamic routing.

Two routing mechanisms from the reference, re-expressed declaratively:

1. **data-stream routing** (processor/elasticapmprocessor/internal/routing/
   data_stream.go:41-97): deterministic per-row route key — dataset from the
   record's category/service with normalization, errors forced to the error
   dataset.  In Spark this is just a ``when/otherwise`` column; the fan-out
   itself is a sink write in ``plans/sinks.py`` — one ``partitionBy(sink)``
   write (``write_fanout``) or per-sink writes (``write_per_sink``),
   SURVEY.md R3.

2. **cardinality routing** (connector/dynamicroutingconnector/router.go:
   229-361): route chosen per partition-key by the estimated distinct count
   of a measure key, bucketed by ascending thresholds.  The reference keeps
   a per-key HyperLogLog sketch and a lagging decision cache; Spark-first
   this is a two-pass plan — a tiny decision aggregate
   (``approx_count_distinct`` == the same HLL++ estimator family) broadcast
   back onto the stream.  "Decisions lag observation" is preserved by
   computing decisions from a prior batch when given one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ERROR_SINK = "logs.error"
DEFAULT_ROUTE = "default"


def normalize_dataset(col) -> "F.Column":
    """normalizeServiceName analog (data_stream.go:50-57): lowercase,
    non [a-z0-9] -> '_'."""
    return F.regexp_replace(F.lower(col), r"[^a-z0-9]", "_")


def with_data_stream_route(df: DataFrame, namespace: str = "default") -> DataFrame:
    """Adds ``sink`` = data_stream route key.

    - malformed or level=ERROR  -> ``logs.error`` (forced, the error-events
      rule of data_stream.go:83-97)
    - otherwise ``logs.<normalized category>`` (dataset =
      "apm.app."+normalize(service) analog, data_stream.go:41-64)
    plus ``namespace`` carried as a column.
    """
    sink = F.when(
        F.col("malformed") | (F.col("level") == "ERROR"), F.lit(ERROR_SINK)
    ).otherwise(F.concat(F.lit("logs."), normalize_dataset(F.col("category"))))
    return df.withColumn("sink", sink).withColumn("namespace", F.lit(namespace))


def cardinality_decisions(
    df: DataFrame,
    partition_by: list[str],
    measure_by: str,
    thresholds: list[int],
    exact: bool = False,
) -> DataFrame:
    """Pass 1: tiny decision aggregate.

    thresholds must be ascending; bucket labels mirror the reference's
    ``<lo>_<hi>`` naming (router.go:363-375), last bucket ``<lo>_inf``.
    ``exact=True`` uses count_distinct for test-scale oracle equality;
    the scale path is approx_count_distinct (HLL++, same estimator family
    as the reference's axiomhq/hyperloglog New14 sketch).
    """
    if thresholds != sorted(thresholds):
        raise ValueError("thresholds must be ascending (config.go:31-72)")
    agg = (
        F.count_distinct(F.col(measure_by))
        if exact
        else F.approx_count_distinct(F.col(measure_by))
    ).alias("_card")
    dec = df.groupBy(*partition_by).agg(agg)

    lo = 0
    route = None
    for t in thresholds:
        label = f"{lo}_{t}"
        cond = F.col("_card") <= F.lit(t)
        route = F.when(cond, F.lit(label)) if route is None else route.when(cond, F.lit(label))
        lo = t
    route = route.otherwise(F.lit(f"{lo}_inf")) if route is not None else F.lit(f"{lo}_inf")
    return dec.select(*partition_by, route.alias("route"))


def with_cardinality_route(
    df: DataFrame,
    partition_by: list[str],
    measure_by: str,
    thresholds: list[int],
    decisions: DataFrame | None = None,
    exact: bool = False,
) -> DataFrame:
    """Pass 2: broadcast the decision table back onto the stream.

    Rows whose partition key has no decision (or null key) take the default
    route (router.go:299-330).  Pass ``decisions`` computed from a PRIOR
    batch to reproduce the reference's decision lag; omitted -> same batch.
    """
    dec = decisions if decisions is not None else cardinality_decisions(
        df, partition_by, measure_by, thresholds, exact=exact
    )
    # no forced broadcast: the decision table has one row per distinct
    # partition key, which is unbounded at the high-cardinality design
    # point — AQE broadcasts it automatically while it fits the threshold
    out = df.join(dec, on=partition_by, how="left")
    return out.withColumn("route", F.coalesce(F.col("route"), F.lit(DEFAULT_ROUTE)))


# ---------------------------------------------------------------------------
# APM data-stream encoding (processor/elasticapmprocessor/internal/routing/
# data_stream.go) — the exact reference rules, as column expressions.
# ---------------------------------------------------------------------------
_NORMALIZE_FROM = '\\/*?"<>| ,#:.-'
_NORMALIZE_TO = "_" * len(_NORMALIZE_FROM)


def normalize_service_name(col) -> "F.Column":
    """normalizeServiceName (data_stream.go:197-205): lowercase, then the
    exact character set \\ / * ? " < > | space , # : . -  -> '_'.
    (Unlike a [^a-z0-9] regex, other unicode passes through unchanged.)"""
    return F.translate(F.lower(col), _NORMALIZE_FROM, _NORMALIZE_TO)


def apm_dataset(service_name, svc_in_dataset: bool = False) -> "F.Column":
    """EncodeDataStream dataset rule (data_stream.go:41-59): "apm", or
    "apm.app."+normalize(service) with service defaulting to "unknown"."""
    if not svc_in_dataset:
        return F.lit("apm")
    svc = F.coalesce(F.nullif(service_name, F.lit("")), F.lit("unknown"))
    return F.concat(F.lit("apm.app."), normalize_service_name(svc))


def apm_error_dataset() -> "F.Column":
    """EncodeErrorDataStream (data_stream.go:84-98): errors always route to
    "apm.error" regardless of service."""
    return F.lit("apm.error")


def apm_metric_dataset(
    has_txn_span_context,
    has_service_name,
    metricset_name,
    metricset_interval,
    is_internal_metric_name,
    otel_remapped,
) -> "F.Column":
    """EncodeDataStreamMetricDataPoint (data_stream.go:101-127): metrics
    with transaction/span context, without a service name, or named
    service_summary route to "apm.<metricset|metrics>.<interval>" when an
    interval is set, else "apm.internal"; recognized internal metric names
    (unless already otel-remapped) also go to "apm.internal".  NULL means
    "not internally routed" — the caller falls back to ``apm_dataset``."""
    internal_target = F.when(
        metricset_interval.isNotNull() & (metricset_interval != ""),
        F.concat(
            F.lit("apm."),
            F.coalesce(F.nullif(metricset_name, F.lit("")), F.lit("metrics")),
            F.lit("."),
            metricset_interval,
        ),
    ).otherwise(F.lit("apm.internal"))
    special = (
        has_txn_span_context
        | ~has_service_name
        | (F.coalesce(metricset_name, F.lit("")) == "service_summary")
    )
    return (
        F.when(special, internal_target)
        .when(is_internal_metric_name & ~otel_remapped, F.lit("apm.internal"))
        .otherwise(F.lit(None).cast("string"))
    )
