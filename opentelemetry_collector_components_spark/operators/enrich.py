"""Enrich stage: broadcast hash-join lookup attributes + defaults.

Analog of the reference's metadata/enrichment processors:
- attribute derivation cascades, processor/elasticapmprocessor/internal/
  enrichments/span.go:321-546 -> ``F.when`` cascades;
- default values ("unknown" outcome / agent name),
  connector/elasticapmconnector/config.go:254-259 -> ``coalesce``;
- metadata attach, processor/elasticmetadataprocessor/processor.go:54-90
  -> literal/broadcast columns.

The lookup table is always broadcast explicitly: at 100 TB the fact side is
~10^12 rows and must never shuffle for a 50-row dimension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enrich_with_dim(
    parsed: DataFrame,
    domain_dim: DataFrame,
    key: str = "domain",
) -> DataFrame:
    """Left broadcast join + coalesce defaults.

    Unknown domains get geo='unknown', category='unknown' — the
    ``event.outcome`` default-"unknown" semantic
    (intakeV2ToDerivedFields.go:108-121).
    Adds ``lang_mismatch``: page lang differs from the dimension's expected
    majority lang (an enrichment-derived quality flag).
    """
    joined = parsed.join(F.broadcast(domain_dim), on=key, how="left")
    return (
        joined.withColumn("geo", F.coalesce(F.col("geo"), F.lit("unknown")))
        .withColumn("category", F.coalesce(F.col("category"), F.lit("unknown")))
        .withColumn(
            "lang_mismatch",
            F.when(
                F.col("expected_lang").isNull() | F.col("lang").isNull(),
                F.lit(False),
            ).otherwise(F.col("lang") != F.col("expected_lang")),
        )
        .drop("expected_lang")
    )


def derive_event_fields(parsed: DataFrame) -> DataFrame:
    """Per-record derived fields — the elasticapmprocessor ``F.when`` cascade
    analog (span.go:382-446 event.outcome from status/http code).

    - event_outcome: success (2xx/3xx), failure (4xx/5xx/ERROR), unknown
    - success_count / failure_count: the event.success_count representation
      (config.go:471-545: success -> bucket{1}, failure -> bucket{0})
    - duration_ms from dur_us (timestamp.us analog, span.go:321-380)
    """
    outcome = (
        F.when(F.col("code").isNull(), F.lit("unknown"))
        .when(F.col("code") < 400, F.lit("success"))
        .otherwise(F.lit("failure"))
    )
    return parsed.withColumns(
        {
            "event_outcome": outcome,
            "success_count": F.when(outcome == "success", 1).otherwise(0).cast("long"),
            "failure_count": F.when(outcome == "failure", 1).otherwise(0).cast("long"),
            "duration_ms": F.col("dur_us") / F.lit(1000.0),
        }
    )


# ---------------------------------------------------------------------------
# ECS translation (processor/elasticapmprocessor/internal/ecs/
# ecs_translation.go) — the relationally-expressible rules.
# ---------------------------------------------------------------------------
def _nonempty(col) -> "F.Column":
    """Go-style missing check: NULL and '' are both absent."""
    return F.nullif(col, F.lit(""))


def ecs_resolve_host(df: DataFrame) -> DataFrame:
    """ECS-mode service/host resolution (ecs_translation.go:240-265):

    - service_name defaults to "unknown";
    - kubernetes node name, when present, overrides host_hostname (legacy
      APM-server behavior for k8s workloads);
    - other k8s metadata (pod name / pod uid / namespace) WITHOUT a node
      name clears host_hostname;
    - host_name falls back to host_hostname when missing.
    Expects columns: service_name, host_name, host_hostname, k8s_node_name,
    k8s_pod_name, k8s_pod_uid, k8s_namespace.
    """
    node = _nonempty(F.col("k8s_node_name"))
    pod_meta = (
        _nonempty(F.col("k8s_pod_name")).isNotNull()
        | _nonempty(F.col("k8s_pod_uid")).isNotNull()
        | _nonempty(F.col("k8s_namespace")).isNotNull()
    )
    hostname = (
        F.when(node.isNotNull(), node)
        .when(pod_meta, F.lit(None).cast("string"))
        .otherwise(_nonempty(F.col("host_hostname")))
    )
    return (
        df.withColumn("service_name", F.coalesce(_nonempty(F.col("service_name")), F.lit("unknown")))
        .withColumn("host_hostname", hostname)
        .withColumn("host_name", F.coalesce(_nonempty(F.col("host_name")), F.col("host_hostname")))
    )


from .ecs import sanitize_label_key  # noqa: E402 — one rule, one home (ecs_translation.go:546-552)


def select_enricher(mapping_mode, sdk_name, skip_enrichment: bool = False) -> "F.Column":
    """Mapping-mode enricher dispatch (elasticapmprocessor/processor.go:
    68-108,164-183): default enricher unless the client metadata mapping
    mode is "ecs"; in ecs mode, resources whose telemetry.sdk.name is
    "ElasticAPM" get the apm enricher, everything else the otel enricher;
    with skip_enrichment configured, non-ecs batches pass through
    unenriched ("none")."""
    ecs = mapping_mode.eqNullSafe(F.lit("ecs"))
    non_ecs = F.lit("none") if skip_enrichment else F.lit("default")
    return F.when(
        ecs,
        F.when(sdk_name.eqNullSafe(F.lit("ElasticAPM")), F.lit("apm")).otherwise(F.lit("otel")),
    ).otherwise(non_ecs)


def attach_metadata_to_body(
    df: DataFrame,
    mapping: dict[str, str],
    body_col: str = "body",
    metadata_col: str = "metadata",
) -> DataFrame:
    """elasticmetadataprocessor (processor.go:54-90): copies the configured
    client-metadata keys into MAP-TYPE log bodies under their mapped names;
    scalar/missing bodies are left untouched (the reference checks
    ``lr.Body().Type() == ValueTypeMap`` first).  Mapped keys overwrite
    existing body entries; metadata keys absent on a row are skipped."""
    body = F.col(body_col)
    meta = F.col(metadata_col)
    added = F.map_from_entries(
        F.filter(
            F.array(
                *[
                    F.struct(
                        F.lit(body_key).alias("key"),
                        F.element_at(meta, F.lit(meta_key)).alias("value"),
                    )
                    for meta_key, body_key in mapping.items()
                ]
            ),
            lambda e: e["value"].isNotNull(),
        )
    )
    # drop ONLY the keys that are actually being re-added so map_concat never
    # sees duplicates; a mapped name whose metadata key is absent on this row
    # must keep its pre-existing body entry (the reference only PutStr's keys
    # present in metadata, processor.go:75-85)
    kept = F.map_filter(body, lambda k, _: ~F.array_contains(F.map_keys(added), k))
    merged = F.when(body.isNull(), body).otherwise(F.map_concat(kept, added))
    return df.withColumn(body_col, merged)
