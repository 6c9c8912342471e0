"""User-agent parsing — the elasticapmprocessor's uaparser slot (E1).

The reference parses ``user_agent.original`` with ua-parser/uap-go and
stores the inferred family as ``user_agent.name`` + version, only when the
name isn't already set (enrichments/span.go:447-470 ``normalizeAttributes``
/ ``setUserAgentIfRequired``).

Spark-first: a vectorized pandas UDF (Arrow batches; regexes compiled once
per executor in the closure) implementing the uap-core match order for the
major families — tools/bots first, then vendor-forked Chromium tokens
(Edge, Opera) before Chrome, then Firefox, Safari (which requires the
``Version/x ... Safari`` shape), legacy IE.  Unmatched UAs fall back to
family "Other" with an empty version, like uap-core.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType, StructField, StructType

# (family-or-None, compiled regex); first match wins. None = family is the
# first capture group (named tools/bots).
_RULES: list[tuple[str | None, re.Pattern[str]]] = [
    (None, re.compile(r"\b(Googlebot|bingbot|DuckDuckBot|YandexBot|curl|Wget|python-requests)/?v?([\d.]*)")),
    ("Edge", re.compile(r"\bEdg(?:e|A|iOS)?/([\d.]+)")),
    ("Opera", re.compile(r"\bOPR/([\d.]+)")),
    ("Firefox", re.compile(r"\b(?:Firefox|FxiOS)/([\d.]+)")),
    ("Chrome", re.compile(r"\b(?:Chrome|CriOS)/([\d.]+)")),
    ("Mobile Safari", re.compile(r"\bVersion/([\d.]+).*\bMobile(?:/\S+)?\s+Safari/")),
    ("Safari", re.compile(r"\bVersion/([\d.]+).*\bSafari/")),
    ("IE", re.compile(r"\bMSIE ([\d.]+)|\bTrident/.*rv:([\d.]+)")),
]


def _parse_one(ua: str | None) -> tuple[str, str]:
    if not ua:
        return "Other", ""
    for family, rx in _RULES:
        m = rx.search(ua)
        if not m:
            continue
        if family is None:
            return m.group(1), m.group(2) or ""
        version = next((g for g in m.groups() if g), "")
        return family, version
    return "Other", ""


# explicit StructType, not a DDL string: fromDDL needs a live session and
# this module must import cleanly inside executors
_UA_TYPE = StructType(
    [StructField("name", StringType()), StructField("version", StringType())]
)


@pandas_udf(_UA_TYPE)
def parse_user_agent(ua: pd.Series) -> pd.DataFrame:
    parsed = [_parse_one(u) for u in ua]
    return pd.DataFrame(parsed, columns=["name", "version"])


def enrich_user_agent(df: DataFrame, ua_col: str = "user_agent_original") -> DataFrame:
    """Adds ``user_agent_name`` / ``user_agent_version``; existing non-null
    values win (setUserAgentIfRequired semantics: infer only when unset)."""
    parsed = F.when(F.col(ua_col).isNotNull(), parse_user_agent(F.col(ua_col)))
    out = df.withColumn("_ua", parsed)
    have_name = "user_agent_name" in df.columns
    have_ver = "user_agent_version" in df.columns
    out = out.withColumn(
        "user_agent_name",
        F.coalesce(F.col("user_agent_name") if have_name else F.lit(None), F.col("_ua.name")),
    ).withColumn(
        "user_agent_version",
        F.coalesce(
            F.col("user_agent_version") if have_ver else F.lit(None), F.col("_ua.version")
        ),
    )
    return out.drop("_ua")
