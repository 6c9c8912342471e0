"""Raw-bytes decoders — beatsencodingextension + NDJSON intake analogs.

The reference decodes raw payloads into log records three ways
(extension/beatsencodingextension/extension.go:75,112,236,284):

- json: parse object, optional ``unwrap`` path, field mappings
- text: split lines, each line -> ``message``
- csv:  header row -> one JSON-ish object per row

and the APM intake parses NDJSON with a metadata first line and per-line
event-type dispatch (receiver/elasticapmintakereceiver/internal/
ndjsondecoder/stream.go:97-300, detectEventType stream.go:907).

Spark-first: all four are column expressions over a lines DataFrame —
``from_json`` / ``from_csv`` / ``split`` stay in the JVM; there is no
hand-rolled byte scanner because the scan IS the source.

``decode_bodies`` is the one transport every binary-body wire decoder in
``sources/`` runs its pure-Python codec through (``mapInArrow``, Arrow
batches built from the codec's row dicts).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# decorated on every decoded record, like the beats decoder's
# message/input.type/data_stream.* (extension.go:75-110)
BEATS_META = ["input_type", "tags"]


def decode_text(lines: DataFrame, text_col: str = "value", tags: list[str] | None = None) -> DataFrame:
    """text codec: line -> message (extension.go:112)."""
    return lines.select(
        F.col(text_col).alias("message"),
        F.lit("text").alias("input_type"),
        F.array(*[F.lit(t) for t in (tags or [])]).alias("tags"),
    )


def decode_json(
    lines: DataFrame,
    schema: str,
    text_col: str = "value",
    unwrap: str | None = None,
    mappings: dict[str, str] | None = None,
) -> DataFrame:
    """json codec with unwrap path + field renames (extension.go:236).

    ``schema`` is a DDL string for the expected object; ``unwrap`` is a
    dotted path whose subtree becomes the record; ``mappings`` renames
    top-level fields after unwrap.
    """
    parsed = lines.select(
        F.from_json(F.col(text_col), schema).alias("_o"),
        F.lit("json").alias("input_type"),
    )
    root = F.col("_o." + unwrap) if unwrap else F.col("_o")
    out = parsed.select(root.alias("_r"), "input_type").select("_r.*", "input_type")
    for src, dst in (mappings or {}).items():
        out = out.withColumnRenamed(src, dst)
    return out


def decode_csv(
    lines: DataFrame,
    schema: str,
    text_col: str = "value",
    sep: str = ",",
) -> DataFrame:
    """csv codec: header-declared schema, one record per line
    (extension.go:284)."""
    return lines.select(
        F.from_csv(F.col(text_col), schema, {"sep": sep}).alias("_r"),
        F.lit("csv").alias("input_type"),
    ).select("_r.*", "input_type")


# --- NDJSON intake (S1/S2) --------------------------------------------------

EVENT_TYPES = ["transaction", "span", "error", "log", "metricset"]


def decode_ndjson_intake(lines: DataFrame, text_col: str = "value") -> DataFrame:
    """NDJSON event stream -> typed records.

    The reference's stream protocol puts shared ``metadata`` on the first
    line of each HTTP request and batches by bytes/age (stream.go:55-92);
    in a table there is no request framing, so metadata rides per line
    (denormalized — the columnar layout dedups it for free, SURVEY.md §1.3).
    Per-type payload stays as a JSON string column for downstream
    ``from_json`` with the type-specific schema: parse-on-demand keeps the
    dispatch single-pass.
    """
    # ONE Jackson parse per line: json_tuple extracts every per-type
    # payload plus metadata together (the earlier per-key get_json_object
    # form parsed each line up to 11 times — type detection, payload pick,
    # metadata — since Catalyst does not merge independent JSON path
    # expressions)
    tupled = lines.select(
        F.json_tuple(F.col(text_col), *EVENT_TYPES, "metadata").alias(
            *EVENT_TYPES, "metadata"
        )
    )
    event_type = None
    payload = None
    for t in EVENT_TYPES:
        cond = F.col(t).isNotNull()
        event_type = (
            F.when(cond, F.lit(t))
            if event_type is None
            else event_type.when(cond, F.lit(t))
        )
        payload = (
            F.when(cond, F.col(t)) if payload is None else payload.when(cond, F.col(t))
        )
    return tupled.select(
        event_type.otherwise(F.lit("unknown")).alias("event_type"),
        payload.alias("payload"),
        F.col("metadata"),
    )


def prw_translate(
    df: DataFrame,
    labels_col: str = "labels",
    samples_col: str = "samples",
) -> DataFrame:
    """Prometheus remote-write v1 -> metric datapoints
    (receiver/prometheusremotewritev1receiver/receiver.go:174-221): each
    timeseries becomes one gauge named by the ``__name__`` label; every
    other label (including job/instance) becomes a datapoint attribute; each
    sample becomes one datapoint with its ms timestamp; series missing
    ``__name__`` are dropped (the handler rejects the request as invalid).

    Input: ``labels map<string,string>``, ``samples array<struct<value:
    double, ts_ms: long>>`` (the post-protobuf shape — snappy/proto decode
    is transport plumbing outside this container).  Output one row per
    datapoint: metric_name, attributes, ts, value.
    """
    name = F.element_at(F.col(labels_col), F.lit("__name__"))
    valid = df.filter(name.isNotNull() & (name != ""))
    attrs = F.map_filter(F.col(labels_col), lambda k, _: k != "__name__")
    ex = valid.select(
        name.alias("metric_name"),
        attrs.alias("attributes"),
        F.explode(F.col(samples_col)).alias("_s"),
    )
    return ex.select(
        "metric_name",
        "attributes",
        F.timestamp_millis(F.col("_s.ts_ms")).alias("ts"),
        F.col("_s.value").alias("value"),
    )


def decode_bodies(df: DataFrame, cols, schema, decode, errors=()) -> DataFrame:
    """The one transport from binary bodies to codec rows: ``mapInArrow``
    over ``df.select(*cols)``, one ``decode(*values)`` call per input row
    (``cols`` is a name or a list of names; the LAST is the body).

    - A NULL body is skipped: it yields no rows.
    - ``decode`` returns or yields row dicts keyed by ``schema`` field
      names; a missing key is NULL, an extra key is ignored.
    - When ``decode`` raises one of ``errors``, the body adds one row that
      is all NULL except ``valid = false``.  A list return is all or
      nothing; the rows a generator yielded before it raised are kept.
    - Any other exception fails the task.

    Rows cross into Spark through ``pa.RecordBatch.from_pylist`` against
    the Arrow form of ``schema`` (a ``StructType`` or DDL string), never
    through a pandas frame: pandas infers float64 for an int64 column
    that holds a NULL and rounds values above 2^53."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    cols = [cols] if isinstance(cols, str) else list(cols)
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    invalid = {"valid": False}

    def _decode(batches):
        for batch in batches:
            rows: list = []
            for values in zip(*(batch.column(c).to_pylist() for c in cols)):
                if values[-1] is None:
                    continue
                try:
                    rows.extend(decode(*values))
                except errors:
                    rows.append(invalid)
            yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)

    return df.select(*cols).mapInArrow(_decode, schema)


_PRW_SAMPLES = "samples array<struct<value: double, ts_ms: long>>"


def _prw_series(ts: dict) -> dict:
    return {
        "labels": ts["labels"],
        "samples": [{"value": v, "ts_ms": t} for v, t in ts["samples"]],
    }


def decode_prw_write_request(df: DataFrame, body_col: str = "body") -> DataFrame:
    """Snappy-compressed prompb.WriteRequest bodies -> the post-protobuf
    series shape ``prw_translate`` consumes (labels map + samples array).

    Closes the transport step of S5 (receiver.go:31-80: the handler snappy-
    decompresses then proto-unmarshals before translation) with the pure-
    Python codecs in ``functions/snappy_codec.py`` / ``functions/
    protowire.py``, run per body through ``decode_bodies`` — one output
    row per timeseries."""
    from ..functions.protowire import decode_write_request
    from ..functions.snappy_codec import snappy_decompress

    def _decode(body: bytes) -> list[dict]:
        return [
            _prw_series(ts)
            for ts in decode_write_request(snappy_decompress(body))
        ]

    return decode_bodies(
        df, body_col, f"labels map<string, string>, {_PRW_SAMPLES}", _decode
    )


def generate_prw_bodies(spark, n: int = 2000) -> DataFrame:
    """Deterministic snappy+prompb remote-write bodies (test/gate fixture):
    body i carries 2 timeseries with modular-arithmetic labels/samples so an
    ANSI-SQL oracle can recompute the decoded output without protobuf."""
    import pandas as pd
    from pyspark.sql.types import BinaryType, StructField, StructType

    from ..functions.protowire import encode_write_request
    from ..functions.snappy_codec import snappy_compress

    def _encode(batches):
        for pdf in batches:
            bodies = []
            for i in pdf["id"]:
                i = int(i)
                series = [
                    {
                        "labels": {
                            "__name__": f"metric_{(i + s) % 4}",
                            "job": f"job_{i % 3}",
                            "instance": f"inst_{i % 5}",
                        },
                        "samples": [
                            ((i % 100) / 10.0 + s, 1767225600000 + i % 60000),
                            ((i % 100) / 10.0 + s + 0.5, 1767225601000 + i % 60000),
                        ],
                    }
                    for s in range(2)
                ]
                # one unnamed series per 7th body: must be dropped downstream
                if i % 7 == 0:
                    series.append(
                        {"labels": {"job": "noname"}, "samples": [(1.0, 0)]}
                    )
                bodies.append(snappy_compress(encode_write_request(series)))
            yield pd.DataFrame({"body": bodies})

    return spark.range(n).mapInPandas(
        _encode, schema=StructType([StructField("body", BinaryType())])
    )


# ---------------------------------------------------------------------------
# Charset-aware HTML byte decoding (crawl intake).
#
# The pages table's html column is raw fetched bytes (BASELINE.json
# input_hint: html binary); real crawls carry legacy encodings, so a
# UTF-8-only cast corrupts a long tail of documents.  Decoding follows the
# public WHATWG Encoding Standard rules crawlers and browsers share:
#
# - a byte-order mark wins over everything (UTF-8 / UTF-16LE / UTF-16BE);
# - else the page-declared label (<meta charset> / http-equiv), with the
#   WHATWG alias table folding the ISO-8859-1 / latin1 / US-ASCII family
#   into windows-1252 (its superset in practice — 0x80 is a Euro sign on
#   real pages, never a C1 control);
# - else UTF-8; undecodable bytes become U+FFFD (errors='replace') so one
#   mojibake byte never drops a document.
#
# Python's codec machinery is the decoder, so this is the library's one
# legitimately Python data path — run as an Arrow-batched pandas UDF
# (never per-row Python): bytes in, str out, zero shuffles.
# ---------------------------------------------------------------------------

# WHATWG labels that fold into windows-1252 (subset covering what crawls
# actually declare; anything else goes through codecs.lookup)
_CP1252_LABELS = {
    "iso-8859-1", "iso8859-1", "iso_8859-1", "latin1", "latin-1", "l1",
    "ascii", "us-ascii", "windows-1252", "cp1252", "x-cp1252",
    "iso-8859-15", "latin9",  # practical fold: same crawl-era family
}


def _python_codec(label: str | None) -> str:
    import codecs

    if not label:
        return "utf-8"
    norm = label.strip().lower()
    if norm in _CP1252_LABELS:
        return "cp1252"
    try:
        return codecs.lookup(norm).name
    except LookupError:
        return "utf-8"


def decode_html_text(
    df: DataFrame,
    html_col: str = "html",
    out_col: str = "text",
    charset_col: str | None = None,
) -> DataFrame:
    """Add ``out_col``: the html bytes decoded per BOM > declared label >
    UTF-8, errors replaced.

    ``charset_col``: a column already carrying the declared label; when
    None the label is sniffed JVM-side with ``functions/pagemeta.py::
    meta_charset`` over the ASCII-compatible cast (the meta tag itself is
    ASCII, so it survives a lossy UTF-8 cast of legacy bytes).
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if charset_col is None:
        from ..functions.pagemeta import meta_charset

        label_expr = meta_charset(F.col(html_col).cast("string"))
    else:
        label_expr = F.col(charset_col)

    @pandas_udf("string")
    def _decode(html, label):
        out = []
        for raw, lab in zip(html, label):
            if raw is None:
                out.append(None)
                continue
            b = bytes(raw)
            if b.startswith(b"\xef\xbb\xbf"):
                codec, b = "utf-8", b[3:]
            elif b.startswith(b"\xff\xfe"):
                codec, b = "utf-16-le", b[2:]
            elif b.startswith(b"\xfe\xff"):
                codec, b = "utf-16-be", b[2:]
            else:
                codec = _python_codec(lab)
            out.append(b.decode(codec, errors="replace"))
        return pd.Series(out, dtype="object")

    return df.withColumn(out_col, _decode(F.col(html_col), label_expr))


# ---------------------------------------------------------------------------
# logfmt (key=value pairs, quoted values) — the Heroku/go-kit line format
# ---------------------------------------------------------------------------
def encode_logfmt(fields: dict[str, Column]) -> Column:
    """Render ordered fields as one logfmt line: ``k=v`` joined by single
    spaces; a value is double-quoted (with ``\\`` and ``"`` escaped)
    exactly when it is empty or contains whitespace, ``"``, ``=`` or a
    backslash — the canonical go-kit/logfmt writer rule, so encode ->
    decode round-trips losslessly.  NULL values render as bare ``k=``
    (decoders read that back as the empty string; logfmt has no null
    literal — document, don't invent one)."""
    parts = []
    for name, col in fields.items():
        v = col.cast("string")
        escaped = F.regexp_replace(
            F.regexp_replace(v, r"\\", r"\\\\"), '"', r'\\"'
        )
        needs_quote = (v == "") | v.rlike(r'[\s"=\\]')
        rendered = F.when(v.isNull(), F.lit("")).otherwise(
            F.when(needs_quote, F.concat(F.lit('"'), escaped, F.lit('"'))).otherwise(v)
        )
        parts.append(F.concat(F.lit(f"{name}="), rendered))
    return F.concat_ws(" ", *parts)


def decode_logfmt(
    df: DataFrame,
    keys: list[str],
    text_col: str = "value",
) -> DataFrame:
    """Extract named keys from logfmt lines — the fourth wire decoder
    beside json/csv/syslog (``grok`` handles positional formats; logfmt
    is self-describing key=value).  Pure JVM regexp per key (one
    RE2-compatible pattern, no backreferences), so DuckDB restates it
    exactly.

    Per key three columns fold into one: a quoted match (unescaped:
    ``\\"`` -> ``"``, ``\\\\`` -> ``\\``), a bare match, NULL when the
    key is absent; ``k=`` and ``k=""`` both decode to the empty string
    (the information logfmt actually carries).  Keys must be legal
    logfmt identifiers (``[A-Za-z0-9_.-]+``) — validated, since a regex
    metacharacter in a key name would silently change the pattern.

    Scale shape: column expressions only — one scan, no shuffle, plan
    fuses into whole-stage codegen alongside downstream filters.
    """
    import re as _re

    out = df
    for key in keys:
        if not _re.fullmatch(r"[A-Za-z0-9_.\-]+", key):
            raise ValueError(f"illegal logfmt key: {key!r}")
        pat = rf'(?:^|\s){_re.escape(key)}=(?:"((?:[^"\\]|\\.)*)"|(\S*))'
        quoted = F.regexp_extract(F.col(text_col), pat, 1)
        bare = F.regexp_extract(F.col(text_col), pat, 2)
        present = F.col(text_col).rlike(rf"(?:^|\s){_re.escape(key)}=")
        unescaped = F.regexp_replace(quoted, r"\\(.)", "$1")
        has_quoted = F.col(text_col).rlike(
            rf'(?:^|\s){_re.escape(key)}="'
        )
        out = out.withColumn(
            key,
            F.when(~present, F.lit(None).cast("string")).otherwise(
                F.when(has_quoted, unescaped).otherwise(bare)
            ),
        )
    return out


_CEF_HEADER_COLS = (
    "cef_version", "device_vendor", "device_product", "device_version",
    "signature_id", "name", "severity",
)
# one CEF header field: any run of escaped chars or non-pipe literals
# (RE2-compatible — no lookarounds — so oracles can restate the parse)
_CEF_FIELD = r"((?:\\.|[^|\\])*)"


def encode_cef(
    device_vendor: Column,
    device_product: Column,
    device_version: Column,
    signature_id: Column,
    name: Column,
    severity: Column,
    extensions: dict[str, Column],
    version: int = 0,
) -> Column:
    """Render one ArcSight Common Event Format line (public CEF spec:
    ``CEF:0|vendor|product|version|sig|name|severity|k=v k=v``).
    Header values escape ``\\`` and ``|``; extension values escape
    ``\\`` and ``=`` (the spec's asymmetric escaping — pipes are legal
    bare in extensions, equals legal bare in headers).  NULL extension
    values are omitted (CEF has no null literal); extension keys must
    be ``[A-Za-z0-9_.]+``."""
    import re as _re

    def _hdr(c: Column) -> Column:
        return F.regexp_replace(
            F.regexp_replace(c.cast("string"), r"\\", r"\\\\"),
            r"\|", r"\\|",
        )

    parts = [
        F.lit(f"CEF:{int(version)}"), _hdr(device_vendor),
        _hdr(device_product), _hdr(device_version), _hdr(signature_id),
        _hdr(name), _hdr(severity),
    ]
    ext_parts = []
    for key, col in extensions.items():
        if not _re.fullmatch(r"[A-Za-z0-9_.]+", key):
            raise ValueError(f"illegal CEF extension key: {key!r}")
        v = F.regexp_replace(
            F.regexp_replace(col.cast("string"), r"\\", r"\\\\"),
            "=", r"\\=",
        )
        ext_parts.append(
            F.when(col.isNull(), F.lit(None)).otherwise(
                F.concat(F.lit(f"{key}="), v)
            )
        )
    return F.concat_ws(
        "|", *parts, F.concat_ws(" ", *ext_parts)
    )


def decode_cef(
    df: DataFrame,
    keys: list[str],
    text_col: str = "value",
) -> DataFrame:
    """Parse CEF lines (the SIEM intake format beside
    syslog/logfmt/grok): seven escaped header fields plus the named
    extension keys.  Pure JVM regexps, all RE2-compatible (escape-aware
    field runs + a lazy value terminated by the next ``key=`` token or
    end of line — no lookarounds, no backreferences), so both Catalyst
    and a SQL oracle can restate the parse.  Non-CEF lines yield NULL
    headers; absent extension keys yield NULL (a bare ``k=`` yields the
    empty string).  Escapes unwind ``\\X -> X`` after extraction.

    Known simplification (shared with common lightweight CEF parsers):
    an extension VALUE containing the literal token `` word= `` (bare,
    unescaped — which the spec forbids producers from emitting)
    terminates the value early.

    Scale shape: column expressions only — one scan, whole-stage
    codegen, no shuffle."""
    import re as _re

    hdr_pat = "^CEF:" + r"\|".join([_CEF_FIELD] * 7) + r"(?:\|(.*))?$"
    txt = F.col(text_col)
    unesc = lambda c: F.regexp_replace(c, r"\\(.)", "$1")  # noqa: E731
    is_cef = txt.rlike("^CEF:" + r"\|".join([r"(?:\\.|[^|\\])*"] * 7))
    out = df
    for i, col_name in enumerate(_CEF_HEADER_COLS, start=1):
        raw = F.regexp_extract(txt, hdr_pat, i)
        out = out.withColumn(
            col_name,
            F.when(is_cef, unesc(raw)).otherwise(F.lit(None)),
        )
    ext = F.when(is_cef, F.regexp_extract(txt, hdr_pat, 8))
    for key in keys:
        if not _re.fullmatch(r"[A-Za-z0-9_.]+", key):
            raise ValueError(f"illegal CEF extension key: {key!r}")
        k = _re.escape(key)
        pat = rf"(?:^|\s){k}=((?:\\.|[^=\\])*?)(?:\s[\w.]+=|$)"
        present = ext.rlike(rf"(?:^|\s){k}=")
        out = out.withColumn(
            key,
            F.when(present, unesc(F.regexp_extract(ext, pat, 1))).otherwise(
                F.lit(None)
            ),
        )
    return out


def _map_body_col(df: DataFrame, body_col: str, fn) -> DataFrame:
    """Apply a bytes->bytes codec to one binary column in place (schema
    unchanged, NULLs pass through); ``mapInArrow``, so the other columns
    pass through as Arrow arrays (never a pandas frame that would turn a
    nullable int64 into float64)."""
    import pyarrow as pa

    def _apply(batches):
        for batch in batches:
            i = batch.schema.get_field_index(body_col)
            body = pa.array(
                [None if b is None else fn(b)
                 for b in batch.column(i).to_pylist()],
                type=batch.schema.field(i).type,
            )
            yield batch.set_column(i, batch.schema.field(i), body)

    return df.mapInArrow(_apply, schema=df.schema)


def lz4_pack_bodies(df: DataFrame, body_col: str = "body") -> DataFrame:
    """LZ4-block-compress a binary column in place (schema unchanged).

    The shipper-side half of the Beats/Kafka transport hop: batches leave
    the agent LZ4-compressed and the collector inflates them on receive.
    Arrow-batched over the pure-Python block codec
    (``functions/lz4_codec.py``); embarrassingly parallel, no shuffle."""
    from ..functions.lz4_codec import lz4_compress

    return _map_body_col(df, body_col, lz4_compress)


def lz4_unpack_bodies(df: DataFrame, body_col: str = "body") -> DataFrame:
    """Inverse of ``lz4_pack_bodies``: inflate a binary column in place."""
    from ..functions.lz4_codec import lz4_decompress

    return _map_body_col(df, body_col, lz4_decompress)


def decode_prw_write_request_v2(df: DataFrame, body_col: str = "body") -> DataFrame:
    """Remote-Write 2.0 transport decode: snappy bodies ->
    io.prometheus.write.v2.Request (symbol table + labels_refs, see
    functions/protowire.py) -> one row per timeseries with the v1 shape
    (labels map + samples array) PLUS the v2 metadata columns
    ``meta_type`` (enum long), ``unit``, ``help``.  Same
    ``decode_bodies`` transport as the v1 decoder above."""
    from ..functions.protowire import decode_write_request_v2
    from ..functions.snappy_codec import snappy_decompress

    def _decode(body: bytes) -> list[dict]:
        rows = []
        for ts in decode_write_request_v2(snappy_decompress(body)):
            md = ts["metadata"]
            rows.append(
                _prw_series(ts)
                | {
                    "meta_type": md.get("type"),
                    "unit": md.get("unit"),
                    "help": md.get("help"),
                }
            )
        return rows

    return decode_bodies(
        df,
        body_col,
        f"labels map<string, string>, {_PRW_SAMPLES}, meta_type long, "
        "unit string, help string",
        _decode,
    )


def generate_prw_v2_bodies(spark, n: int = 2000) -> DataFrame:
    """Deterministic snappy + write.v2 bodies: the SAME modular fixture
    as ``generate_prw_bodies`` (so the two wires share an oracle shape)
    plus v2 metadata — type alternates counter(1)/gauge(2) with the
    series index, unit 'seconds'/'bytes', shared help strings riding the
    symbol table."""
    import pandas as pd
    from pyspark.sql.types import BinaryType, StructField, StructType

    from ..functions.protowire import encode_write_request_v2
    from ..functions.snappy_codec import snappy_compress

    def _encode(batches):
        for pdf in batches:
            bodies = []
            for i in pdf["id"]:
                i = int(i)
                series = [
                    {
                        "labels": {
                            "__name__": f"metric_{(i + s) % 4}",
                            "job": f"job_{i % 3}",
                            "instance": f"inst_{i % 5}",
                        },
                        "samples": [
                            ((i % 100) / 10.0 + s, 1767225600000 + i % 60000),
                            ((i % 100) / 10.0 + s + 0.5, 1767225601000 + i % 60000),
                        ],
                        "metadata": {
                            "type": 1 + (i + s) % 2,
                            "unit": "seconds" if s == 0 else "bytes",
                            "help": f"Help for metric_{(i + s) % 4}.",
                        },
                    }
                    for s in range(2)
                ]
                bodies.append(snappy_compress(encode_write_request_v2(series)))
            yield pd.DataFrame({"body": bodies})

    return spark.range(n).mapInPandas(
        _encode, schema=StructType([StructField("body", BinaryType())])
    )


def encode_leef(
    vendor: Column,
    product: Column,
    version: Column,
    event_id: Column,
    attrs: dict[str, Column],
    leef_version: str = "2.0",
    delim: str = "\t",
) -> Column:
    """Render one IBM QRadar LEEF line (public LEEF spec).  1.0:
    ``LEEF:1.0|vendor|product|version|eventID|k=v<TAB>k=v``; 2.0 adds
    the delimiter declaration field — written in the spec's hex form
    (``x09``) so the line stays printable.  Header escaping matches
    the CEF discipline (``\\`` and ``|``); attribute values escape
    ``\\`` and ``=``; NULL attribute values are omitted."""
    import re as _re

    if leef_version not in ("1.0", "2.0"):
        raise ValueError("leef_version must be '1.0' or '2.0'")
    if leef_version == "1.0" and delim != "\t":
        raise ValueError("LEEF 1.0 attributes are tab-delimited")
    if len(delim) != 1:
        raise ValueError("delimiter must be one character")

    def _hdr(c: Column) -> Column:
        return F.regexp_replace(
            F.regexp_replace(c.cast("string"), r"\\", r"\\\\"), r"\|", r"\\|"
        )

    parts = [
        F.lit(f"LEEF:{leef_version}"),
        _hdr(vendor), _hdr(product), _hdr(version), _hdr(event_id),
    ]
    if leef_version == "2.0":
        parts.append(F.lit(f"x{ord(delim):02x}"))
    ext_parts = []
    for key, col in attrs.items():
        if not _re.fullmatch(r"[A-Za-z0-9_.]+", key):
            raise ValueError(f"illegal LEEF attribute key: {key!r}")
        v = F.regexp_replace(
            F.regexp_replace(col.cast("string"), r"\\", r"\\\\"), "=", r"\\="
        )
        ext_parts.append(
            F.when(col.isNull(), F.lit(None)).otherwise(
                F.concat(F.lit(f"{key}="), v)
            )
        )
    return F.concat_ws(
        "|", *parts, F.concat_ws(delim, *ext_parts)
    )


def decode_leef(
    df: DataFrame,
    keys: list[str],
    text_col: str = "value",
) -> DataFrame:
    """Parse LEEF 1.0/2.0 lines beside ``decode_cef``: four escaped
    header fields, the 2.0 delimiter declaration (literal char, ``x09``
    or ``0x09`` hex forms; 1.0 and an empty field mean tab), then the
    requested attribute keys.  The per-row delimiter is normalized to
    ``\\x00`` with one literal replace, so every key extracts with a
    single static regexp afterwards — pure JVM columns, one scan, no
    shuffle.  Non-LEEF lines yield NULL everywhere.  Adds
    ``leef_version, vendor, product, product_version, event_id`` + one
    column per key."""
    import re as _re

    field = r"((?:\\.|[^|\\])*)"
    hdr_pat = (
        r"^LEEF:(1\.0|2\.0)\|" + r"\|".join([field] * 4) + r"(?:\|(.*))?$"
    )
    txt = F.col(text_col)
    unesc = lambda c: F.regexp_replace(c, r"\\(.)", "$1")  # noqa: E731
    is_leef = txt.rlike(r"^LEEF:(1\.0|2\.0)\|")
    ver = F.regexp_extract(txt, hdr_pat, 1)
    out = df.withColumn("leef_version", F.when(is_leef, ver))
    for i, col_name in enumerate(
        ("vendor", "product", "product_version", "event_id"), start=2
    ):
        out = out.withColumn(
            col_name,
            F.when(is_leef, unesc(F.regexp_extract(txt, hdr_pat, i))),
        )
    rest = F.regexp_extract(txt, hdr_pat, 6)
    # 2.0: first |-field of the remainder declares the delimiter
    delim_raw = F.regexp_extract(rest, r"^((?:\\.|[^|\\])*)\|", 1)
    has_decl = (ver == "2.0") & rest.rlike(r"^(?:\\.|[^|\\])*\|")
    attrs_raw = F.when(has_decl, F.regexp_extract(rest, r"^(?:\\.|[^|\\])*\|(.*)$", 1)).otherwise(rest)
    delim_chr = (
        F.when(delim_raw.rlike(r"^(?i)(0?x)[0-9a-f]{1,2}$"),
               F.chr(F.conv(F.regexp_extract(delim_raw, r"(?i)^0?x([0-9a-f]{1,2})$", 1), 16, 10).cast("long")))
        .when(F.length(delim_raw) == 1, delim_raw)
        .otherwise(F.lit("\t"))
    )
    delim = F.when(has_decl, delim_chr).otherwise(F.lit("\t"))
    norm = F.when(is_leef, F.replace(attrs_raw, delim, F.lit("\x00")))
    for key in keys:
        if not _re.fullmatch(r"[A-Za-z0-9_.]+", key):
            raise ValueError(f"illegal LEEF attribute key: {key!r}")
        k = _re.escape(key)
        pat = rf"(?:^|\x00){k}=((?:\\.|[^\x00\\])*)"
        present = norm.rlike(rf"(?:^|\x00){k}=")
        out = out.withColumn(
            key,
            F.when(present, unesc(F.regexp_extract(norm, pat, 1))),
        )
    return out


def decode_w3c_extlog(
    files: DataFrame, body_col: str = "body"
) -> DataFrame:
    """W3C Extended Log File Format (the IIS/proxy self-describing text
    log, public W3C WD-logfile spec): a ``#Fields:`` directive names the
    columns, data lines are space-separated values positionally mapped to
    them — so the SCHEMA travels in the file and two files can carry
    different field sets.  Decoded entirely JVM-side: the header line is
    extracted per file blob, zipped positionally onto each data line
    (``map_from_arrays``), and every record lands as
    ``(fields map<string,string>, n_fields, valid)`` — the dynamic-schema
    shape the enricher dispatch consumes.  Lines whose value count
    mismatches their file's field count are valid=false (torn line), and
    ``-`` (the spec's null) becomes a NULL map value.

    One scan, no Python: explode lines, filter directives, zip with the
    broadcast-free per-row header (carried on the row — blobs are whole
    files, so the header rides the same row as its lines)."""
    lines = files.select(
        F.regexp_extract(
            F.col(body_col).cast("string"), r"(?m)^#Fields:\s*(.+)$", 1
        ).alias("_hdr"),
        F.explode(
            F.split(F.col(body_col).cast("string"), "\r?\n")
        ).alias("_line"),
    )
    data = lines.where(
        (F.col("_line") != "") & ~F.col("_line").startswith("#")
    )
    hdr = F.split(F.trim(F.col("_hdr")), r"\s+")
    vals = F.split(F.col("_line"), r"\s+")
    # split("") yields [""] (size 1), so guard on the RAW header string;
    # duplicate field names would abort the job at map build time
    # (session mapKeyDedupPolicy=EXCEPTION) — a malformed header marks
    # its lines invalid instead
    ok = (
        (F.col("_hdr") != "")
        & (F.size(F.array_distinct(hdr)) == F.size(hdr))
        & (F.size(vals) == F.size(hdr))
    )
    return data.select(
        F.when(
            ok,
            F.map_from_arrays(
                hdr,
                F.transform(
                    vals, lambda v: F.when(v != "-", v)
                ),
            ),
        ).alias("fields"),
        F.size(hdr).cast("int").alias("n_fields"),
        ok.alias("valid"),
    )


def snappy_frame_pack_bodies(
    df: DataFrame, body_col: str = "body", chunk_size: int = 65536
) -> DataFrame:
    """Snappy-FRAMING-compress a binary column in place (the streaming
    .sz container: identifier chunk + 64 KiB-max chunks with masked
    CRC-32C — ``functions/snappy_codec.py::frame_compress``); the
    shipper-side hop for snappy-framed Kafka payloads."""
    from ..functions.snappy_codec import frame_compress

    return _map_body_col(df, body_col, lambda b: frame_compress(b, chunk_size))


def snappy_frame_unpack_bodies(df: DataFrame, body_col: str = "body") -> DataFrame:
    """Inverse of :func:`snappy_frame_pack_bodies`: CRC-verified inflate
    (a torn chunk or CRC mismatch raises — transport corruption must not
    pass silently)."""
    from ..functions.snappy_codec import frame_decompress

    return _map_body_col(df, body_col, frame_decompress)
