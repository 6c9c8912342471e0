"""Parse stage: pages -> structured log records.

Analog of the collector's receive+decode stage
(receiver/elasticapmintakereceiver/receiver.go:174-241 and
internal/ndjsondecoder/stream.go:97-300): raw text lines become typed
records with derived fields and a malformed flag for error routing.

Scale notes
-----------
- Columns are selected BEFORE extraction so parquet/Iceberg column pruning
  reaches the scan (we never drag ``html`` through the pipeline unless the
  title column was requested).
- Extraction defaults to the JVM engine (whole-stage codegen); the
  pandas-UDF engine is plan-compatible (same schema) and is used when
  ``engine="pandas"`` — both are Arrow/vectorized, never per-row Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.extract import (
    extract_log_pandas,
    extract_log_sql,
    extract_title,
    url_domain,
)

PARSED_FIELDS = ["ts_str", "level", "svc", "code", "dur_us", "msg"]


def parse_pages(df: DataFrame, engine: str = "sql", with_title: bool = False) -> DataFrame:
    """pages(url, warc_ts, html, text, lang[, doc_id]) -> parsed records.

    Output columns: url, domain, warc_ts, lang, level, svc, code(int),
    dur_us(long), msg, malformed(bool) [, title].
    """
    cols = ["url", "warc_ts", "text", "lang"]
    if "doc_id" in df.columns:
        cols.append("doc_id")
    if with_title:
        cols.append("html")
    if engine == "pandas":
        extract = extract_log_pandas
    elif engine == "sql":
        extract = extract_log_sql
    else:
        raise ValueError(f"unknown extraction engine {engine!r}; use 'sql' or 'pandas'")
    # the struct gets its own projection so the fields below read one
    # extraction, not one pandas-UDF call per field
    parsed = df.select(*cols, extract(F.col("text")).alias("_p"))
    level, svc = F.col("_p.level"), F.col("_p.svc")
    code = F.col("_p.code").cast("int")
    out = [c for c in cols if c not in ("text", "html")] + [
        level.alias("level"),
        svc.alias("svc"),
        code.alias("code"),
        F.col("_p.dur_us").cast("long").alias("dur_us"),
        F.col("_p.msg").alias("msg"),
        F.col("_p.ts_str").alias("ts_str"),
        url_domain(F.col("url")).alias("domain"),
        # malformed = any required field failed to extract (the 1% fixture
        # rows); these route to the error sink, mirroring ndjson
        # decode-error records.
        (level.isNull() | code.isNull() | svc.isNull()).alias("malformed"),
    ]
    if with_title:
        out.append(extract_title(F.col("html")).alias("title"))
    return parsed.select(*out)
