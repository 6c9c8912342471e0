"""Grok-style compiled-regex extraction over text/html columns.

Analog of the reference's receiver-side decoders: NDJSON field mapping
(receiver/elasticapmintakereceiver/internal/ndjsondecoder/stream.go:97-300)
and beats text/csv/json decoding with field mappings
(extension/beatsencodingextension/extension.go:75-284).

Two log-extract engines, identical semantics (tested byte-identical):

- ``extract_log_pandas``  — ONE vectorized ``pandas_udf`` applying a single
  compiled multi-group regex per Arrow batch (``Series.str.extract``).  This
  is the BASELINE.json-mandated path ("vectorized pandas/Arrow UDFs apply
  grok-style compiled-regex extraction").  The regex is compiled once per
  executor (module import time), not per batch.
- ``extract_log_sql``     — pure JVM ``regexp_extract`` per field; stays in
  whole-stage codegen, no Python exchange.  The hot-path engine:
  ``parse_pages``' default.

The per-row invariant (BASELINE.json input_hint): extracted text per url is
byte-identical between engines and across runs — extraction is a pure
function of the input bytes.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType, StructField, StructType

# one combined grok pattern; optional groups model malformed rows
# (missing level/code — see sources/pages.py)
LOG_PATTERN = (
    r'ts=(?P<ts_str>\S+)'
    r'(?: level=(?P<level>INFO|WARN|ERROR))?'
    r' svc=(?P<svc>\S+)'
    r'(?: code=(?P<code>\d+))?'
    r' dur_us=(?P<dur_us>\d+)'
    r' msg="(?P<msg>[^"]*)"'
)
_LOG_RE = re.compile(LOG_PATTERN)

# ---------------------------------------------------------------------------
# Single-pass multi-group extraction.  The JVM has no extract-to-struct, so
# a K-field combined regex naively costs K full regexp_extract passes per
# row (the r5 plan shape for grok/syslog/WARC decode — measured ~0.3 s per
# field per 100k rows on the 11-field Apache pattern).  One regexp_replace
# whose replacement emits every requested group behind control-char
# delimiters collapses that to ONE pass + one split (guide §1.2 "per-task
# work": same plan shape, ~Kx less regex work in the scan).
# ---------------------------------------------------------------------------

_MG_SEP = "\x01"  # group delimiter in the replacement
_MG_OK = "\x02"  # match sentinel: present iff the pattern matched


def regexp_extract_multi(
    text: Column, pattern: str, idxs: list[int]
) -> Column:
    """Capture groups ``idxs`` of the FIRST match of ``pattern`` in
    ``text`` as one ``array<string>`` column — element k is semantically
    identical to ``F.regexp_extract(text, pattern, idxs[k])``
    (Matcher.find first-match probe order; ``''`` for a no-match row and
    for a non-participating group; NULL input -> NULL array), computed
    in ONE regex pass instead of ``len(idxs)``.

    How: ``regexp_replace`` with the wrapper ``^[\\s\\S]*?(?:pat)[\\s\\S]*``
    — the lazy prefix probes match positions left-to-right exactly like
    ``find()``, the suffix consumes the remainder so exactly one
    replacement happens — and a replacement string that writes every
    requested group ``$i`` behind a ``\\x02`` sentinel, delimited by
    ``\\x01``.  A non-matching row keeps its original text (no sentinel).
    The wrapper adds no capture groups, so ``$i`` numbering is the
    pattern's own.

    Rows that already contain either control character (never the case
    for the log/wire formats this repo parses, but possible on hostile
    input) take a per-row fallback to the per-group extracts, keeping
    the semantics exact on ANY input.

    The single array return (rather than one Column per group) is what
    guarantees the one-pass cost: consumers stage it once — as a
    projection column (``decode_syslog``) or bound through a
    ``transform`` lambda (``struct_extract_multi``) — and index into
    it, so the regex subtree is never duplicated into sibling
    expressions where common-subexpression elimination inside
    conditional branches is not guaranteed.
    """
    if any(i < 1 for i in idxs):
        # $0 would capture the WRAPPED match (the whole string), not the
        # pattern's own match — wrap the pattern in one more group and
        # ask for that group instead of 0 if whole-match extraction is
        # ever needed
        raise ValueError("regexp_extract_multi requires group indexes >= 1")
    wrapped = "^[\\s\\S]*?(?:" + pattern + ")[\\s\\S]*"
    repl = _MG_OK + _MG_SEP.join(f"${i}" for i in idxs)
    unsafe = text.contains(_MG_SEP) | text.contains(_MG_OK)
    hit = F.regexp_replace(text, wrapped, repl)
    matched = hit.startswith(_MG_OK)
    fast = F.when(
        matched, F.split(F.substring(hit, 2, 2147483647), _MG_SEP, -1)
    ).otherwise(F.array(*[F.lit("") for _ in idxs]))
    slow = F.array(*[F.regexp_extract(text, pattern, i) for i in idxs])
    # NULL text: both branches must yield NULL (regexp_extract is
    # NULL-propagating); `unsafe` is NULL then, so guard explicitly
    return F.when(text.isNull(), F.lit(None).cast("array<string>")).otherwise(
        F.when(unsafe, slow).otherwise(fast)
    )


def struct_extract_multi(
    text: Column,
    pattern: str,
    fields: list[tuple[str, int, str]],
) -> Column:
    """One-pass multi-group extraction as a typed struct Column:
    ``fields`` is ``[(name, group_idx, spark_type), ...]`` (the
    ``grok_compile`` shape); '' normalizes to NULL and non-string types
    are cast.  Every struct field references the SAME array expression
    in non-conditional position, which whole-stage codegen's
    subexpression elimination evaluates once per row (verified by
    measurement: the 10-group Apache pattern runs at single-pass cost,
    4.3x under the per-field form; a ``transform``-lambda binding was
    tried and rejected — higher-order functions run interpreted and
    cost ~7% plus lost codegen fusion downstream)."""

    arr = regexp_extract_multi(text, pattern, [i for _, i, _ in fields])
    cols = []
    for k, (name, _idx, typ) in enumerate(fields):
        c = F.nullif(F.element_at(arr, k + 1), F.lit(""))
        if typ != "string":
            c = c.cast(typ)
        cols.append(c.alias(name))
    return F.struct(*cols)

TITLE_PATTERN = r"<title>([^<]*)</title>"

LOG_FIELDS = ["ts_str", "level", "svc", "code", "dur_us", "msg"]
_LOG_STRUCT = StructType([StructField(f, StringType()) for f in LOG_FIELDS])


@pandas_udf(_LOG_STRUCT)
def extract_log_pandas(text: pd.Series) -> pd.DataFrame:
    """Arrow-batched multi-group extraction; NaN -> None for missing groups."""
    out = text.str.extract(_LOG_RE)
    # pandas yields NaN for non-matching optional groups; Arrow wants None
    return out.where(pd.notna(out), None)


def extract_log_sql(text: Column) -> Column:
    """Same extraction as a JVM struct expression (whole-stage codegen).

    ``regexp_extract`` returns '' on no-match; normalize to NULL so both
    engines produce identical bytes.

    Deliberately one pass per field, NOT ``struct_extract_multi`` (r6,
    measured): these six patterns are trivial (``ts=(\\S+)``-class), and
    six cheap passes beat one combined-pattern pass plus the delimited-
    replacement machinery at 10M rows (0.88 s vs 1.36 s over the
    generator).  The single-pass form wins when the per-field pass is
    expensive — the 10-group Apache grok pattern (4.3x) and the
    anchored syslog grammars (see ``grok_extract`` / ``decode_syslog``)
    — i.e. pattern cost, not field count, decides.
    """

    def _f(pat: str) -> Column:
        return F.nullif(F.regexp_extract(text, pat, 1), F.lit(""))

    return F.struct(
        _f(r"ts=(\S+)").alias("ts_str"),
        _f(r"level=(INFO|WARN|ERROR)").alias("level"),
        _f(r"svc=(\S+)").alias("svc"),
        _f(r"code=(\d+)").alias("code"),
        _f(r"dur_us=(\d+)").alias("dur_us"),
        _f(r'msg="([^"]*)"').alias("msg"),
    )


def extract_title(html: Column) -> Column:
    """<title> text from the html bytes (JVM-side decode + regex)."""
    return F.nullif(
        F.regexp_extract(html.cast("string"), TITLE_PATTERN, 1), F.lit("")
    )


def url_domain(url: Column) -> Column:
    """Host part of the url — the enrichment join key.

    ``parse_url`` is the builtin the reference's URL-field mapping
    (ndjsondecoder/traces.go:652-688) lands on.
    """
    return F.parse_url(url, F.lit("HOST"))


def url_path(url: Column) -> Column:
    return F.parse_url(url, F.lit("PATH"))


# ---------------------------------------------------------------------------
# W3C Trace Context + OTel severity: the log<->trace correlation pair.
# ---------------------------------------------------------------------------

_TRACEPARENT_RE = (
    "^([0-9a-f]{2})-([0-9a-f]{32})-([0-9a-f]{16})-([0-9a-f]{2})(-.+)?$"
)


def parse_traceparent(header: Column) -> Column:
    """W3C `traceparent` header (version-traceid-spanid-flags, all
    lowercase hex; Trace Context level 1) -> STRUCT(version, trace_id,
    span_id, sampled BOOLEAN) — the field a log pipeline extracts to
    join application logs onto their traces.

    Per spec: malformed headers, the all-zero trace-id/span-id, and
    version 'ff' are INVALID -> NULL struct (callers count NULLs for
    loss metrics); versions 01-fe are parsed AS IF version 00 and may
    carry additional '-suffixed' fields (the forward-compatibility
    rule), while version 00 must end at the flags byte.  sampled =
    bit 0 of the flags byte.  Pure regexp_extract + conv expressions —
    scan-side, codegen."""
    v = F.regexp_extract(header, _TRACEPARENT_RE, 1)
    tid = F.regexp_extract(header, _TRACEPARENT_RE, 2)
    sid = F.regexp_extract(header, _TRACEPARENT_RE, 3)
    flg = F.regexp_extract(header, _TRACEPARENT_RE, 4)
    tail = F.regexp_extract(header, _TRACEPARENT_RE, 5)
    ok = (
        (v != "")
        & (v != "ff")
        & ((v != "00") | (tail == ""))
        & (tid != "0" * 32)
        & (sid != "0" * 16)
    )
    return F.when(
        ok,
        F.struct(
            v.alias("version"),
            tid.alias("trace_id"),
            sid.alias("span_id"),
            (F.conv(flg, 16, 10).cast("int") % 2 == 1).alias("sampled"),
        ),
    )


#: OTel log severity text -> number (spec: TRACE=1..FATAL=21, four
#: steps per level; the short names map to the level's FIRST number)
OTEL_SEVERITY_NUMBER = {
    "trace": 1, "trace2": 2, "trace3": 3, "trace4": 4,
    "debug": 5, "debug2": 6, "debug3": 7, "debug4": 8,
    "info": 9, "info2": 10, "info3": 11, "info4": 12,
    "warn": 13, "warning": 13, "warn2": 14, "warn3": 15, "warn4": 16,
    "error": 17, "err": 17, "error2": 18, "error3": 19, "error4": 20,
    "fatal": 21, "critical": 21, "fatal2": 22, "fatal3": 23, "fatal4": 24,
}


def severity_number(text: Column) -> Column:
    """Severity text (any case; common aliases err/warning/critical
    folded) -> the OTel severityNumber 1..24; unknown -> 0 (UNSPECIFIED,
    the proto default).  One literal-map lookup, no regex."""
    pairs = []
    for k, n in OTEL_SEVERITY_NUMBER.items():
        pairs += [F.lit(k), F.lit(n)]
    m = F.create_map(*pairs)
    return F.coalesce(m[F.lower(text)], F.lit(0)).cast("int")
