"""OTLP/JSON logs wire format: encode + decode, all JVM expressions.

The OpenTelemetry Protocol's JSON mapping (ExportLogsServiceRequest;
opentelemetry-proto logs.proto + proto3 JSON rules) is the lingua
franca the reference's receivers ultimately speak — pdata IS this tree
(resourceLogs[] -> scopeLogs[] -> logRecords[]), and the repo's flat
row model (SURVEY.md §1.3) is its relational projection.  This module
closes the wire loop beside the Elastic intake NDJSON
(``sources/intake.py``), syslog, logfmt, beats json/csv and
prometheusremotewrite decoders:

- ``encode_otlp_logs``: flat rows -> one ExportLogsServiceRequest JSON
  per (resource, scope) group, built with ``F.struct``/``to_json`` —
  the exporter side.
- ``decode_otlp_logs``: payload JSON -> flat rows via ``from_json`` +
  three ``explode``s and ``map_from_entries`` attribute folding — the
  receiver side.  Exact inverse of the encoder (round-trip pinned in
  tests and the oracle gate).

proto3 JSON details honored: int64 fields (timeUnixNano,
observedTimeUnixNano, intValue) are STRINGS on the wire; severityNumber
is a plain int; trace/span ids are lowercase hex.  AnyValue support:
stringValue / intValue / doubleValue / boolValue (arrayValue/kvlistValue
out of scope — documented, rejected as NULL attribute values, the flat
row model carries string maps).  Attribute VALUES land stringified in
``map<string,string>`` — the repo-wide open-attribute convention.

Scale shape: both directions are pure column expressions (from_json /
to_json / transform / map_from_entries / explode) — whole-stage
codegen, no Python, scan-side prunable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .decoders import decode_bodies

#: from_json schema for ExportLogsServiceRequest (subset: scalar AnyValue)
OTLP_LOGS_DDL = (
    "resourceLogs ARRAY<STRUCT<"
    "resource: STRUCT<"
    "attributes: ARRAY<STRUCT<key: STRING, value: STRUCT<"
    "stringValue: STRING, intValue: STRING, doubleValue: DOUBLE,"
    "boolValue: BOOLEAN>>>, droppedAttributesCount: INT>,"
    "scopeLogs: ARRAY<STRUCT<"
    "scope: STRUCT<name: STRING, version: STRING>,"
    "logRecords: ARRAY<STRUCT<"
    "timeUnixNano: STRING, observedTimeUnixNano: STRING,"
    "severityNumber: INT, severityText: STRING,"
    "body: STRUCT<stringValue: STRING, intValue: STRING,"
    "doubleValue: DOUBLE, boolValue: BOOLEAN>,"
    "attributes: ARRAY<STRUCT<key: STRING, value: STRUCT<"
    "stringValue: STRING, intValue: STRING, doubleValue: DOUBLE,"
    "boolValue: BOOLEAN>>>,"
    "droppedAttributesCount: INT,"
    "traceId: STRING, spanId: STRING>>>>>>"
)


def _any_value_to_string(v: Column) -> Column:
    """Scalar AnyValue -> string (proto3 JSON: intValue is a string
    already; double/bool stringified; kvlist/array unsupported -> NULL)."""
    return F.coalesce(
        v["stringValue"],
        v["intValue"],
        v["doubleValue"].cast("string"),
        v["boolValue"].cast("string"),
    )


def _attrs_to_map(attrs: Column) -> Column:
    return F.map_from_entries(
        F.transform(
            attrs,
            lambda a: F.struct(
                a["key"].alias("key"),
                _any_value_to_string(a["value"]).alias("value"),
            ),
        )
    )


def decode_otlp_logs(df: DataFrame, json_col: str = "payload") -> DataFrame:
    """ExportLogsServiceRequest JSON -> one flat row per logRecord:
    (time_unix_nano LONG, observed_unix_nano LONG, severity_number INT,
    severity_text, body STRING, trace_id, span_id,
    resource_attrs MAP<STRING,STRING>, scope_name, scope_version,
    attributes MAP<STRING,STRING>, dropped_attributes_count INT).

    Malformed JSON yields zero rows for that payload (from_json NULL ->
    explode of NULL drops it), the standard decoder-leniency contract
    (``sources/decoders.py``); count upstream if loss must alarm."""
    parsed = df.select(
        F.from_json(F.col(json_col), OTLP_LOGS_DDL).alias("_req")
    )
    rl = parsed.select(F.explode("_req.resourceLogs").alias("_rl"))
    sl = rl.select(
        _attrs_to_map(F.col("_rl.resource.attributes")).alias("resource_attrs"),
        F.explode("_rl.scopeLogs").alias("_sl"),
    )
    lr = sl.select(
        "resource_attrs",
        F.col("_sl.scope.name").alias("scope_name"),
        F.col("_sl.scope.version").alias("scope_version"),
        F.explode("_sl.logRecords").alias("_lr"),
    )
    return lr.select(
        F.col("_lr.timeUnixNano").cast("long").alias("time_unix_nano"),
        F.col("_lr.observedTimeUnixNano").cast("long").alias(
            "observed_unix_nano"
        ),
        F.col("_lr.severityNumber").alias("severity_number"),
        F.col("_lr.severityText").alias("severity_text"),
        _any_value_to_string(F.col("_lr.body")).alias("body"),
        F.col("_lr.traceId").alias("trace_id"),
        F.col("_lr.spanId").alias("span_id"),
        "resource_attrs",
        "scope_name",
        "scope_version",
        _attrs_to_map(F.col("_lr.attributes")).alias("attributes"),
        F.coalesce(F.col("_lr.droppedAttributesCount"), F.lit(0)).alias(
            "dropped_attributes_count"
        ),
    )


def _string_any(value: Column) -> Column:
    return F.struct(value.cast("string").alias("stringValue"))


def _kv_array(m: Column) -> Column:
    """map<string,string> -> sorted OTLP attribute array (sorted keys
    keep the wire bytes deterministic for tests/oracles)."""
    return F.transform(
        F.array_sort(F.map_keys(m)),
        lambda k: F.struct(
            k.alias("key"), _string_any(m[k]).alias("value")
        ),
    )


def encode_otlp_logs(
    df: DataFrame,
    resource_cols: list[str],
    scope_name_col: str = "scope_name",
    scope_version_col: str = "scope_version",
) -> DataFrame:
    """Flat rows -> (group keys..., payload STRING): one
    ExportLogsServiceRequest per (resource identity, scope) group with
    all the group's records in ONE resourceLogs/scopeLogs entry —
    the exporter-side batching shape (reference:
    exporter/elasticsearchexporter groups by resource the same way).
    Record order inside a payload is (time_unix_nano, body) — a total,
    engine-independent order.  String-typed attribute values only (the
    flat model's convention; typed re-encode is the caller's lookup).

    Input columns: time_unix_nano, observed_unix_nano, severity_number,
    severity_text, body, trace_id, span_id,
    attributes MAP<STRING,STRING>, plus ``resource_cols`` (scalar
    resource attributes) and the scope columns."""
    rec = F.struct(
        F.col("time_unix_nano").cast("string").alias("timeUnixNano"),
        F.col("observed_unix_nano").cast("string").alias(
            "observedTimeUnixNano"
        ),
        F.col("severity_number").cast("int").alias("severityNumber"),
        F.col("severity_text").alias("severityText"),
        _string_any(F.col("body")).alias("body"),
        _kv_array(F.col("attributes")).alias("attributes"),
        F.col("trace_id").alias("traceId"),
        F.col("span_id").alias("spanId"),
    )
    grouped = (
        df.withColumn("_rec", rec)
        .groupBy(*resource_cols, scope_name_col, scope_version_col)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("_rec.timeUnixNano").cast("long").alias("_t"),
                        F.col("_rec.body.stringValue").alias("_b"),
                        F.col("_rec").alias("r"),
                    )
                )
            ).alias("_recs")
        )
    )
    res_attrs = F.array(
        *[
            F.struct(
                F.lit(c).alias("key"),
                _string_any(F.col(c)).alias("value"),
            )
            for c in sorted(resource_cols)
        ]
    )
    payload = F.to_json(
        F.struct(
            F.array(
                F.struct(
                    F.struct(res_attrs.alias("attributes")).alias("resource"),
                    F.array(
                        F.struct(
                            F.struct(
                                F.col(scope_name_col).alias("name"),
                                F.col(scope_version_col).alias("version"),
                            ).alias("scope"),
                            F.transform(
                                F.col("_recs"), lambda x: x["r"]
                            ).alias("logRecords"),
                        )
                    ).alias("scopeLogs"),
                )
            ).alias("resourceLogs")
        )
    )
    return grouped.select(
        *resource_cols, scope_name_col, scope_version_col,
        payload.alias("payload"),
    )


# ---------------------------------------------------------------------------
# OTLP/JSON metrics (ExportMetricsServiceRequest): all five metric types
# to/from the repo's flat datapoint model (SURVEY.md §1.3) — the pdata
# tree lsminterval-style aggregation consumes.
# ---------------------------------------------------------------------------

_DP_COMMON = (
    "attributes: ARRAY<STRUCT<key: STRING, value: STRUCT<"
    "stringValue: STRING, intValue: STRING, doubleValue: DOUBLE,"
    "boolValue: BOOLEAN>>>,"
    "startTimeUnixNano: STRING, timeUnixNano: STRING"
)

OTLP_METRICS_DDL = (
    "resourceMetrics ARRAY<STRUCT<"
    "resource: STRUCT<attributes: ARRAY<STRUCT<key: STRING, value: STRUCT<"
    "stringValue: STRING, intValue: STRING, doubleValue: DOUBLE,"
    "boolValue: BOOLEAN>>>>,"
    "scopeMetrics: ARRAY<STRUCT<"
    "scope: STRUCT<name: STRING, version: STRING>,"
    "metrics: ARRAY<STRUCT<"
    "name: STRING, unit: STRING,"
    f"gauge: STRUCT<dataPoints: ARRAY<STRUCT<{_DP_COMMON},"
    "asDouble: DOUBLE, asInt: STRING>>>,"
    f"sum: STRUCT<dataPoints: ARRAY<STRUCT<{_DP_COMMON},"
    "asDouble: DOUBLE, asInt: STRING>>,"
    "aggregationTemporality: INT, isMonotonic: BOOLEAN>,"
    f"histogram: STRUCT<dataPoints: ARRAY<STRUCT<{_DP_COMMON},"
    "count: STRING, sum: DOUBLE, min: DOUBLE, max: DOUBLE,"
    "bucketCounts: ARRAY<STRING>, explicitBounds: ARRAY<DOUBLE>>>,"
    "aggregationTemporality: INT>,"
    f"exponentialHistogram: STRUCT<dataPoints: ARRAY<STRUCT<{_DP_COMMON},"
    "count: STRING, sum: DOUBLE, scale: INT, zeroCount: STRING,"
    "positive: STRUCT<offset: INT, bucketCounts: ARRAY<STRING>>,"
    "negative: STRUCT<offset: INT, bucketCounts: ARRAY<STRING>>>>,"
    "aggregationTemporality: INT>,"
    f"summary: STRUCT<dataPoints: ARRAY<STRUCT<{_DP_COMMON},"
    "count: STRING, sum: DOUBLE,"
    "quantileValues: ARRAY<STRUCT<quantile: DOUBLE, value: DOUBLE>>>>>"
    ">>>>>>"
)


def decode_otlp_metrics(df: DataFrame, json_col: str = "payload") -> DataFrame:
    """ExportMetricsServiceRequest JSON -> ONE ROW PER DATAPOINT in the
    flat model the aggregation operators consume (operators/merge.py /
    exphist.py / aggregate.py): metric_type in {gauge, sum, histogram,
    exponential_histogram, summary}; int64 wire strings cast to LONG;
    long arrays (bucketCounts) element-cast.  Columns irrelevant to a
    type are NULL — exactly pdata's typed-variant union flattened.

    Scale shape: from_json + explode per level, then a five-branch
    union of per-type projections — each branch prunes to its own
    subtree, all whole-stage codegen."""
    parsed = df.select(
        F.from_json(F.col(json_col), OTLP_METRICS_DDL).alias("_req")
    )
    sm = (
        parsed.select(F.explode("_req.resourceMetrics").alias("_rm"))
        .select(
            _attrs_to_map(F.col("_rm.resource.attributes")).alias(
                "resource_attrs"
            ),
            F.explode("_rm.scopeMetrics").alias("_sm"),
        )
        .select(
            "resource_attrs",
            F.col("_sm.scope.name").alias("scope_name"),
            F.explode("_sm.metrics").alias("_m"),
        )
    )

    def common(dp):
        return [
            _attrs_to_map(dp["attributes"]).alias("attributes"),
            dp["startTimeUnixNano"].cast("long").alias("start_time_unix_nano"),
            dp["timeUnixNano"].cast("long").alias("time_unix_nano"),
        ]

    def nulls(*names):
        typed = {
            "value_double": "double", "value_long": "long", "count": "long",
            "sum": "double", "min": "double", "max": "double",
            "bounds": "array<double>", "bucket_counts": "array<long>",
            "scale": "int", "zero_count": "long", "pos_offset": "int",
            "pos_bucket_counts": "array<long>", "neg_offset": "int",
            "neg_bucket_counts": "array<long>",
            "q_quantiles": "array<double>", "q_values": "array<double>",
            "temporality": "int", "is_monotonic": "boolean",
        }
        return [F.lit(None).cast(typed[n]).alias(n) for n in names]

    def longs(col):
        return F.transform(col, lambda x: x.cast("long"))

    base = ["resource_attrs", "scope_name"]
    gauge = sm.where(F.col("_m.gauge").isNotNull()).select(
        *base,
        F.col("_m.name").alias("metric_name"),
        F.lit("gauge").alias("metric_type"),
        F.explode("_m.gauge.dataPoints").alias("_dp"),
    )
    gauge = gauge.select(
        *base, "metric_name", "metric_type", *common(F.col("_dp")),
        F.col("_dp.asDouble").alias("value_double"),
        F.col("_dp.asInt").cast("long").alias("value_long"),
        *nulls("count", "sum", "min", "max", "bounds", "bucket_counts",
               "scale", "zero_count", "pos_offset", "pos_bucket_counts",
               "neg_offset", "neg_bucket_counts", "q_quantiles", "q_values",
               "temporality", "is_monotonic"),
    )
    susm = sm.where(F.col("_m.sum").isNotNull()).select(
        *base,
        F.col("_m.name").alias("metric_name"),
        F.lit("sum").alias("metric_type"),
        F.col("_m.sum.aggregationTemporality").alias("temporality"),
        F.col("_m.sum.isMonotonic").alias("is_monotonic"),
        F.explode("_m.sum.dataPoints").alias("_dp"),
    )
    susm = susm.select(
        *base, "metric_name", "metric_type", *common(F.col("_dp")),
        F.col("_dp.asDouble").alias("value_double"),
        F.col("_dp.asInt").cast("long").alias("value_long"),
        *nulls("count", "sum", "min", "max", "bounds", "bucket_counts",
               "scale", "zero_count", "pos_offset", "pos_bucket_counts",
               "neg_offset", "neg_bucket_counts", "q_quantiles", "q_values"),
        "temporality", "is_monotonic",
    )
    hist = sm.where(F.col("_m.histogram").isNotNull()).select(
        *base,
        F.col("_m.name").alias("metric_name"),
        F.lit("histogram").alias("metric_type"),
        F.col("_m.histogram.aggregationTemporality").alias("temporality"),
        F.explode("_m.histogram.dataPoints").alias("_dp"),
    )
    hist = hist.select(
        *base, "metric_name", "metric_type", *common(F.col("_dp")),
        *nulls("value_double", "value_long"),
        F.col("_dp.count").cast("long").alias("count"),
        F.col("_dp.sum").alias("sum"),
        F.col("_dp.min").alias("min"),
        F.col("_dp.max").alias("max"),
        F.col("_dp.explicitBounds").alias("bounds"),
        longs(F.col("_dp.bucketCounts")).alias("bucket_counts"),
        *nulls("scale", "zero_count", "pos_offset", "pos_bucket_counts",
               "neg_offset", "neg_bucket_counts", "q_quantiles", "q_values"),
        "temporality",
        *nulls("is_monotonic"),
    )
    eh = sm.where(F.col("_m.exponentialHistogram").isNotNull()).select(
        *base,
        F.col("_m.name").alias("metric_name"),
        F.lit("exponential_histogram").alias("metric_type"),
        F.col("_m.exponentialHistogram.aggregationTemporality").alias(
            "temporality"
        ),
        F.explode("_m.exponentialHistogram.dataPoints").alias("_dp"),
    )
    eh = eh.select(
        *base, "metric_name", "metric_type", *common(F.col("_dp")),
        *nulls("value_double", "value_long"),
        F.col("_dp.count").cast("long").alias("count"),
        F.col("_dp.sum").alias("sum"),
        *nulls("min", "max", "bounds", "bucket_counts"),
        F.col("_dp.scale").alias("scale"),
        F.col("_dp.zeroCount").cast("long").alias("zero_count"),
        F.col("_dp.positive.offset").alias("pos_offset"),
        longs(F.col("_dp.positive.bucketCounts")).alias("pos_bucket_counts"),
        F.col("_dp.negative.offset").alias("neg_offset"),
        longs(F.col("_dp.negative.bucketCounts")).alias("neg_bucket_counts"),
        *nulls("q_quantiles", "q_values"),
        "temporality",
        *nulls("is_monotonic"),
    )
    summ = sm.where(F.col("_m.summary").isNotNull()).select(
        *base,
        F.col("_m.name").alias("metric_name"),
        F.lit("summary").alias("metric_type"),
        F.explode("_m.summary.dataPoints").alias("_dp"),
    )
    summ = summ.select(
        *base, "metric_name", "metric_type", *common(F.col("_dp")),
        *nulls("value_double", "value_long"),
        F.col("_dp.count").cast("long").alias("count"),
        F.col("_dp.sum").alias("sum"),
        *nulls("min", "max", "bounds", "bucket_counts", "scale",
               "zero_count", "pos_offset", "pos_bucket_counts",
               "neg_offset", "neg_bucket_counts"),
        F.transform(F.col("_dp.quantileValues"), lambda x: x["quantile"]).alias(
            "q_quantiles"
        ),
        F.transform(F.col("_dp.quantileValues"), lambda x: x["value"]).alias(
            "q_values"
        ),
        *nulls("temporality", "is_monotonic"),
    )
    out = gauge
    for part in (susm, hist, eh, summ):
        out = out.unionByName(part)
    return out


def encode_otlp_metrics(
    df: DataFrame,
    resource_cols: list[str],
    scope_name_col: str = "scope_name",
) -> DataFrame:
    """Flat datapoint rows -> (resource cols..., scope, payload): one
    ExportMetricsServiceRequest per (resource identity, scope), metrics
    grouped by (name, type, temporality, monotonicity), dataPoints
    ordered by (timeUnixNano, attributes-json) — a total order, so the
    wire bytes are engine-independent.  Exact inverse of
    ``decode_otlp_metrics`` on the supported subset (``to_json`` drops
    NULL fields, so each type emits only its own subtree — proto3 JSON
    int64 strings included)."""
    t = F.col("metric_type")
    strs = lambda c: F.transform(c, lambda x: x.cast("string"))  # noqa: E731
    dp = F.struct(
        _kv_array(F.coalesce(F.col("attributes"), F.create_map())).alias(
            "attributes"
        ),
        F.col("start_time_unix_nano").cast("string").alias("startTimeUnixNano"),
        F.col("time_unix_nano").cast("string").alias("timeUnixNano"),
        F.col("value_double").alias("asDouble"),
        F.col("value_long").cast("string").alias("asInt"),
        F.col("count").cast("string").alias("count"),
        F.col("sum").alias("sum"),
        F.col("min").alias("min"),
        F.col("max").alias("max"),
        F.when(t == "histogram", strs(F.col("bucket_counts"))).alias(
            "bucketCounts"
        ),
        F.when(t == "histogram", F.col("bounds")).alias("explicitBounds"),
        F.col("scale").alias("scale"),
        F.col("zero_count").cast("string").alias("zeroCount"),
        F.when(
            t == "exponential_histogram",
            F.struct(
                F.col("pos_offset").alias("offset"),
                strs(F.col("pos_bucket_counts")).alias("bucketCounts"),
            ),
        ).alias("positive"),
        F.when(
            t == "exponential_histogram",
            F.struct(
                F.col("neg_offset").alias("offset"),
                strs(F.col("neg_bucket_counts")).alias("bucketCounts"),
            ),
        ).alias("negative"),
        F.when(
            t == "summary",
            F.zip_with(
                F.col("q_quantiles"),
                F.col("q_values"),
                lambda q, v: F.struct(q.alias("quantile"), v.alias("value")),
            ),
        ).alias("quantileValues"),
    )
    per_metric = (
        df.withColumn("_dp", dp)
        .groupBy(
            *resource_cols, scope_name_col, "metric_name", "metric_type",
            "temporality", "is_monotonic",
        )
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("_dp.timeUnixNano").cast("long").alias("_t"),
                            F.to_json(F.col("_dp.attributes")).alias("_k"),
                            F.col("_dp").alias("d"),
                        )
                    )
                ),
                lambda x: x["d"],
            ).alias("_dps")
        )
    )
    metric = F.struct(
        F.col("metric_name").alias("name"),
        F.when(t == "gauge", F.struct(F.col("_dps").alias("dataPoints"))).alias(
            "gauge"
        ),
        F.when(
            t == "sum",
            F.struct(
                F.col("_dps").alias("dataPoints"),
                F.col("temporality").alias("aggregationTemporality"),
                F.col("is_monotonic").alias("isMonotonic"),
            ),
        ).alias("sum"),
        F.when(
            t == "histogram",
            F.struct(
                F.col("_dps").alias("dataPoints"),
                F.col("temporality").alias("aggregationTemporality"),
            ),
        ).alias("histogram"),
        F.when(
            t == "exponential_histogram",
            F.struct(
                F.col("_dps").alias("dataPoints"),
                F.col("temporality").alias("aggregationTemporality"),
            ),
        ).alias("exponentialHistogram"),
        F.when(
            t == "summary", F.struct(F.col("_dps").alias("dataPoints"))
        ).alias("summary"),
    )
    per_scope = (
        per_metric.withColumn("_metric", metric)
        .groupBy(*resource_cols, scope_name_col)
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("metric_name").alias("_n"),
                            F.col("metric_type").alias("_y"),
                            F.col("_metric").alias("m"),
                        )
                    )
                ),
                lambda x: x["m"],
            ).alias("_metrics")
        )
    )
    res_attrs = F.array(
        *[
            F.struct(
                F.lit(c).alias("key"), _string_any(F.col(c)).alias("value")
            )
            for c in sorted(resource_cols)
        ]
    )
    payload = F.to_json(
        F.struct(
            F.array(
                F.struct(
                    F.struct(res_attrs.alias("attributes")).alias("resource"),
                    F.array(
                        F.struct(
                            F.struct(
                                F.col(scope_name_col).alias("name")
                            ).alias("scope"),
                            F.col("_metrics").alias("metrics"),
                        )
                    ).alias("scopeMetrics"),
                )
            ).alias("resourceMetrics")
        )
    )
    return per_scope.select(
        *resource_cols, scope_name_col, payload.alias("payload")
    )


# ---------------------------------------------------------------------------
# OTLP/JSON traces (ExportTraceServiceRequest) — the span tree the
# apm_metrics / tracetree operators consume, as a wire loop.
# ---------------------------------------------------------------------------

OTLP_TRACES_DDL = (
    "resourceSpans ARRAY<STRUCT<"
    "resource: STRUCT<attributes: ARRAY<STRUCT<key: STRING, value: STRUCT<"
    "stringValue: STRING, intValue: STRING, doubleValue: DOUBLE,"
    "boolValue: BOOLEAN>>>>,"
    "scopeSpans: ARRAY<STRUCT<"
    "scope: STRUCT<name: STRING, version: STRING>,"
    "spans: ARRAY<STRUCT<"
    "traceId: STRING, spanId: STRING, parentSpanId: STRING,"
    "name: STRING, kind: INT,"
    "startTimeUnixNano: STRING, endTimeUnixNano: STRING,"
    "attributes: ARRAY<STRUCT<key: STRING, value: STRUCT<"
    "stringValue: STRING, intValue: STRING, doubleValue: DOUBLE,"
    "boolValue: BOOLEAN>>>,"
    "status: STRUCT<code: INT, message: STRING>>>>>>>"
)


def decode_otlp_traces(df: DataFrame, json_col: str = "payload") -> DataFrame:
    """ExportTraceServiceRequest JSON -> one flat row per span:
    (trace_id, span_id, parent_span_id, name, kind INT,
    start_time_unix_nano LONG, end_time_unix_nano LONG,
    status_code INT, status_message, resource_attrs, scope_name,
    attributes).  Span events/links are out of scope (documented
    subset — the flat span model carries none).  Absent parentSpanId
    (root spans) decodes as NULL; absent status defaults code 0
    (UNSET, the proto3 default)."""
    parsed = df.select(
        F.from_json(F.col(json_col), OTLP_TRACES_DDL).alias("_req")
    )
    sp = (
        parsed.select(F.explode("_req.resourceSpans").alias("_rs"))
        .select(
            _attrs_to_map(F.col("_rs.resource.attributes")).alias(
                "resource_attrs"
            ),
            F.explode("_rs.scopeSpans").alias("_ss"),
        )
        .select(
            "resource_attrs",
            F.col("_ss.scope.name").alias("scope_name"),
            F.explode("_ss.spans").alias("_s"),
        )
    )
    return sp.select(
        F.col("_s.traceId").alias("trace_id"),
        F.col("_s.spanId").alias("span_id"),
        F.col("_s.parentSpanId").alias("parent_span_id"),
        F.col("_s.name").alias("name"),
        F.coalesce(F.col("_s.kind"), F.lit(0)).alias("kind"),
        F.col("_s.startTimeUnixNano").cast("long").alias(
            "start_time_unix_nano"
        ),
        F.col("_s.endTimeUnixNano").cast("long").alias("end_time_unix_nano"),
        F.coalesce(F.col("_s.status.code"), F.lit(0)).alias("status_code"),
        F.col("_s.status.message").alias("status_message"),
        "resource_attrs",
        "scope_name",
        _attrs_to_map(F.col("_s.attributes")).alias("attributes"),
    )


def encode_otlp_traces(
    df: DataFrame,
    resource_cols: list[str],
    scope_name_col: str = "scope_name",
) -> DataFrame:
    """Flat span rows -> (resource cols..., scope, payload): one
    ExportTraceServiceRequest per (resource identity, scope), spans
    ordered by (startTimeUnixNano, spanId) — total order, engine-
    independent bytes.  Exact inverse of ``decode_otlp_traces`` on the
    subset (NULL parent/status fields dropped from the wire by
    ``to_json``, decoding back to NULL/defaults)."""
    span = F.struct(
        F.col("trace_id").alias("traceId"),
        F.col("span_id").alias("spanId"),
        F.col("parent_span_id").alias("parentSpanId"),
        F.col("name").alias("name"),
        F.col("kind").cast("int").alias("kind"),
        F.col("start_time_unix_nano").cast("string").alias(
            "startTimeUnixNano"
        ),
        F.col("end_time_unix_nano").cast("string").alias("endTimeUnixNano"),
        _kv_array(F.coalesce(F.col("attributes"), F.create_map())).alias(
            "attributes"
        ),
        F.when(
            F.col("status_code").isNotNull() | F.col("status_message").isNotNull(),
            F.struct(
                F.col("status_code").cast("int").alias("code"),
                F.col("status_message").alias("message"),
            ),
        ).alias("status"),
    )
    grouped = (
        df.withColumn("_sp", span)
        .groupBy(*resource_cols, scope_name_col)
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("_sp.startTimeUnixNano").cast("long").alias(
                                "_t"
                            ),
                            F.col("_sp.spanId").alias("_k"),
                            F.col("_sp").alias("s"),
                        )
                    )
                ),
                lambda x: x["s"],
            ).alias("_spans")
        )
    )
    res_attrs = F.array(
        *[
            F.struct(
                F.lit(c).alias("key"), _string_any(F.col(c)).alias("value")
            )
            for c in sorted(resource_cols)
        ]
    )
    payload = F.to_json(
        F.struct(
            F.array(
                F.struct(
                    F.struct(res_attrs.alias("attributes")).alias("resource"),
                    F.array(
                        F.struct(
                            F.struct(
                                F.col(scope_name_col).alias("name")
                            ).alias("scope"),
                            F.col("_spans").alias("spans"),
                        )
                    ).alias("scopeSpans"),
                )
            ).alias("resourceSpans")
        )
    )
    return grouped.select(
        *resource_cols, scope_name_col, payload.alias("payload")
    )


# ---------------------------------------------------------------------------
# OTLP logs PROTOBUF wire (the primary OTLP transport; JSON above is the
# secondary mapping) — pure-Python codec in functions/protowire.py, run
# Arrow-batched like the PRW path.
# ---------------------------------------------------------------------------

def _request_decoder(decode_request, compression: str | None):
    """The per-body codec for ``decode_bodies``: ``decode_request(bytes)
    -> list[dict]`` (the pure-Python codec), after a gunzip when
    ``compression='gzip'`` (Content-Encoding: gzip, the OTLP/HTTP
    standard; functions/gzip_codec.py).  NULL bodies are skipped;
    broken bodies raise inside the codec (protobuf has no lenient
    parse; count upstream if loss must be tolerated)."""
    if compression is None:
        return decode_request
    if compression != "gzip":
        raise ValueError(f"unsupported compression: {compression!r}")
    from ..functions.gzip_codec import gzip_decompress

    return lambda body: decode_request(gzip_decompress(body))


def _row_map(v) -> dict:
    """Arrow to_pylist map cell (list of key/value tuples, a dict on
    newer pyarrow, or None) -> plain dict."""
    return dict(v) if v is not None else {}


def _encode_protobuf_bodies_grouped(
    df: DataFrame, build_record, encode_request, batched: bool
) -> DataFrame:
    """Shared encoder transport: binary request bodies in column
    ``body``.  ``batched=False`` emits one request PER ROW (a group of
    one); ``batched=True`` emits one request per (service_name,
    scope_name) RUN within each Arrow batch — all records sharing the
    resource/scope land in a single Export*ServiceRequest, amortizing
    the envelope.  No shuffle: a real exporter batches whatever its
    partition holds (the reference's queue/batcher does the same
    per-consumer, not globally), and the decode side re-flattens to
    identical rows regardless of how records were grouped, so results
    are grouping-invariant.  ``mapInArrow``, NOT ``mapInPandas``: a
    nullable int64 column (e.g. a gauge's absent start_time beside a
    sum's populated one) coerces to float64 in pandas and silently
    corrupts nanosecond timestamps above 2^53; Arrow ``to_pylist``
    keeps int64 + null exact.  Map columns arrive as key/value tuple
    lists and are dict-ified by the record builders."""
    import pyarrow as pa

    out_schema = pa.schema([pa.field("body", pa.binary())])

    def _enc(batches):
        for batch in batches:
            groups: dict = {}
            for i, r in enumerate(batch.to_pylist()):
                key = (r.get("service_name"), r.get("scope_name"))
                groups.setdefault(key if batched else (i, *key), []).append(
                    build_record(r)
                )
            yield pa.RecordBatch.from_pylist(
                [
                    {
                        "body": encode_request(
                            {"service_name": key[-2]}, key[-1], recs
                        )
                    }
                    for key, recs in groups.items()
                ],
                schema=out_schema,
            )

    return df.mapInArrow(_enc, schema="body binary")


def _log_record(r: dict) -> dict:
    return {
        "time_unix_nano": r["time_unix_nano"],
        "observed_unix_nano": r.get("observed_unix_nano"),
        "severity_number": r.get("severity_number") or 0,
        "severity_text": r.get("severity_text"),
        "body": r.get("body"),
        "trace_id": r.get("trace_id"),
        "span_id": r.get("span_id"),
        "attributes": _row_map(r.get("attributes")),
    }


def encode_otlp_logs_protobuf(
    df: DataFrame, batched: bool = False
) -> DataFrame:
    """Flat rows -> binary ExportLogsServiceRequest bodies in column
    ``body``.  Default is one request PER ROW (the receiver-side shape
    where every POST carries one record); ``batched=True`` emits one
    request per (service_name, scope_name) run per partition — the
    exporter-side shape that amortizes the envelope at scale.  Input
    columns: the flat log model of ``decode_otlp_logs`` plus scalar
    ``service_name`` resource attr and ``scope_name``.  Arrow-batched
    over the pure-Python codec
    (``functions/protowire.py::encode_otlp_logs_request``) — same
    transport pattern as the prometheusremotewrite path."""
    from ..functions.protowire import encode_otlp_logs_request

    return _encode_protobuf_bodies_grouped(
        df, _log_record, encode_otlp_logs_request, batched
    )


def decode_otlp_logs_protobuf(
    df: DataFrame, body_col: str = "body", compression: str | None = None
) -> DataFrame:
    """Binary ExportLogsServiceRequest bodies -> the SAME flat row
    schema as the JSON decoder (one row per LogRecord; int64s exact,
    ids lowercase hex, attribute values stringified) — so every
    downstream operator is transport-agnostic."""
    from pyspark.sql.types import (
        IntegerType, LongType, MapType, StringType, StructField, StructType,
    )

    from ..functions.protowire import decode_otlp_logs_request

    schema = StructType(
        [
            StructField("time_unix_nano", LongType()),
            StructField("observed_unix_nano", LongType()),
            StructField("severity_number", IntegerType()),
            StructField("severity_text", StringType()),
            StructField("body", StringType()),
            StructField("trace_id", StringType()),
            StructField("span_id", StringType()),
            StructField("resource_attrs", MapType(StringType(), StringType())),
            StructField("scope_name", StringType()),
            StructField("attributes", MapType(StringType(), StringType())),
        ]
    )
    decode = _request_decoder(decode_otlp_logs_request, compression)
    return decode_bodies(df, body_col, schema, decode)


def _span_record(r: dict) -> dict:
    return {
        "trace_id": r.get("trace_id"),
        "span_id": r.get("span_id"),
        "parent_span_id": r.get("parent_span_id"),
        "name": r.get("name"),
        "kind": int(r.get("kind") or 0),
        "start_time_unix_nano": r.get("start_time_unix_nano"),
        "end_time_unix_nano": r.get("end_time_unix_nano"),
        "status_code": int(r.get("status_code") or 0),
        "status_message": r.get("status_message"),
        "attributes": _row_map(r.get("attributes")),
        "events": [
            {**e, "attributes": _row_map(e.get("attributes"))}
            for e in r.get("events") or []
        ] or None,
        "links": [
            {**lk, "attributes": _row_map(lk.get("attributes"))}
            for lk in r.get("links") or []
        ] or None,
    }


def encode_otlp_traces_protobuf(
    df: DataFrame, batched: bool = False
) -> DataFrame:
    """Flat span rows -> binary ExportTraceServiceRequest bodies
    (column ``body``) via the pure-Python codec
    (``functions/protowire.py::encode_otlp_traces_request``),
    Arrow-batched.  One request per row by default; ``batched=True``
    groups per (service_name, scope_name) run per partition (exporter
    shape).  Input: the flat span model of ``decode_otlp_traces`` plus
    scalar ``service_name`` and ``scope_name`` columns."""
    from ..functions.protowire import encode_otlp_traces_request

    return _encode_protobuf_bodies_grouped(
        df, _span_record, encode_otlp_traces_request, batched
    )


def decode_otlp_traces_protobuf(
    df: DataFrame, body_col: str = "body", compression: str | None = None
) -> DataFrame:
    """Binary ExportTraceServiceRequest bodies -> the flat span schema
    of ``decode_otlp_traces`` (JSON) so downstream span consumers
    (apm_metrics / tracetree) are transport-agnostic, PLUS ``events``
    and ``links`` struct arrays (the protobuf wire carries them; the
    JSON twin documents them out of scope)."""
    from pyspark.sql.types import (
        ArrayType, IntegerType, LongType, MapType, StringType, StructField,
        StructType,
    )

    from ..functions.protowire import decode_otlp_traces_request

    schema = StructType(
        [
            StructField("trace_id", StringType()),
            StructField("span_id", StringType()),
            StructField("parent_span_id", StringType()),
            StructField("name", StringType()),
            StructField("kind", IntegerType()),
            StructField("start_time_unix_nano", LongType()),
            StructField("end_time_unix_nano", LongType()),
            StructField("status_code", IntegerType()),
            StructField("status_message", StringType()),
            StructField("resource_attrs", MapType(StringType(), StringType())),
            StructField("scope_name", StringType()),
            StructField("attributes", MapType(StringType(), StringType())),
            StructField(
                "events",
                ArrayType(
                    StructType(
                        [
                            StructField("time_unix_nano", LongType()),
                            StructField("name", StringType()),
                            StructField(
                                "attributes",
                                MapType(StringType(), StringType()),
                            ),
                        ]
                    )
                ),
            ),
            StructField(
                "links",
                ArrayType(
                    StructType(
                        [
                            StructField("trace_id", StringType()),
                            StructField("span_id", StringType()),
                            StructField(
                                "attributes",
                                MapType(StringType(), StringType()),
                            ),
                        ]
                    )
                ),
            ),
        ]
    )
    decode = _request_decoder(decode_otlp_traces_request, compression)
    return decode_bodies(df, body_col, schema, decode)


_METRIC_POINT_FIELDS = (
    "metric_name", "metric_type", "time_unix_nano", "start_time_unix_nano",
    "value_double", "value_long", "count", "sum", "min", "max",
    "bounds", "bucket_counts", "scale", "zero_count",
    "pos_offset", "pos_bucket_counts", "neg_offset", "neg_bucket_counts",
    "q_quantiles", "q_values", "temporality", "is_monotonic", "exemplars",
)


def _metric_point(r: dict) -> dict:
    p = {k: r.get(k) for k in _METRIC_POINT_FIELDS}
    p["attributes"] = _row_map(r.get("attributes"))
    return p


def encode_otlp_metrics_protobuf(
    df: DataFrame, batched: bool = False
) -> DataFrame:
    """Flat datapoint rows (the ``decode_otlp_metrics`` model, all five
    types) -> binary ExportMetricsServiceRequest bodies (column
    ``body``) via ``functions/protowire.py::encode_otlp_metrics_request``,
    Arrow-batched.  One request per row by default; ``batched=True``
    groups per (service_name, scope_name) run per partition (exporter
    shape).  Requires scalar ``service_name`` and ``scope_name``
    columns; Arrow transport keeps nullable int64 values/timestamps
    exact (proto3 presence = column null)."""
    from ..functions.protowire import encode_otlp_metrics_request

    return _encode_protobuf_bodies_grouped(
        df, _metric_point, encode_otlp_metrics_request, batched
    )


def decode_otlp_metrics_protobuf(
    df: DataFrame, body_col: str = "body", compression: str | None = None
) -> DataFrame:
    """Binary ExportMetricsServiceRequest bodies -> the SAME flat
    datapoint schema as ``decode_otlp_metrics`` (JSON): one row per
    datapoint, five-type union, int64s exact — downstream aggregation
    (operators/merge.py / exphist.py / lsminterval.py) is transport-
    agnostic."""
    from pyspark.sql.types import (
        ArrayType, BooleanType, DoubleType, IntegerType, LongType, MapType,
        StringType, StructField, StructType,
    )

    from ..functions.protowire import decode_otlp_metrics_request

    schema = StructType(
        [
            StructField("resource_attrs", MapType(StringType(), StringType())),
            StructField("scope_name", StringType()),
            StructField("metric_name", StringType()),
            StructField("metric_type", StringType()),
            StructField("attributes", MapType(StringType(), StringType())),
            StructField("start_time_unix_nano", LongType()),
            StructField("time_unix_nano", LongType()),
            StructField("value_double", DoubleType()),
            StructField("value_long", LongType()),
            StructField("count", LongType()),
            StructField("sum", DoubleType()),
            StructField("min", DoubleType()),
            StructField("max", DoubleType()),
            StructField("bounds", ArrayType(DoubleType())),
            StructField("bucket_counts", ArrayType(LongType())),
            StructField("scale", IntegerType()),
            StructField("zero_count", LongType()),
            StructField("pos_offset", IntegerType()),
            StructField("pos_bucket_counts", ArrayType(LongType())),
            StructField("neg_offset", IntegerType()),
            StructField("neg_bucket_counts", ArrayType(LongType())),
            StructField("q_quantiles", ArrayType(DoubleType())),
            StructField("q_values", ArrayType(DoubleType())),
            StructField("temporality", IntegerType()),
            StructField("is_monotonic", BooleanType()),
            StructField(
                "exemplars",
                ArrayType(
                    StructType(
                        [
                            StructField("time_unix_nano", LongType()),
                            StructField("value_double", DoubleType()),
                            StructField("value_long", LongType()),
                            StructField("trace_id", StringType()),
                            StructField("span_id", StringType()),
                        ]
                    )
                ),
            ),
        ]
    )
    decode = _request_decoder(decode_otlp_metrics_request, compression)
    return decode_bodies(df, body_col, schema, decode)
