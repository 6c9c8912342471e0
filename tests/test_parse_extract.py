"""M1: grok extraction — engine parity + byte-identical invariant.

Mirrors the reference's golden NDJSON->expected pairs
(receiver/elasticapmintakereceiver/testdata/*.ndjson + *_expected.yaml):
fixed inputs, exact expected field bytes.
"""

from pyspark.sql import functions as F

from opentelemetry_collector_components_spark.functions.extract import (
    extract_log_pandas,
    extract_log_sql,
    extract_title,
)
from opentelemetry_collector_components_spark.operators.parse import parse_pages
from opentelemetry_collector_components_spark.sources.pages import generate_pages

GOLDEN_LINE = 'ts=2026-01-01T00:00:07Z level=WARN svc=svc-7 code=149 dur_us=917 msg="POST /p/7"'
GOLDEN_MALFORMED = 'ts=2026-01-01T00:00:07Z svc=svc-7 dur_us=917 msg="POST /p/7"'


def test_golden_bytes(spark):
    df = spark.createDataFrame([(GOLDEN_LINE,), (GOLDEN_MALFORMED,)], ["text"])
    rows = df.select(extract_log_sql(F.col("text")).alias("p")).collect()
    good, bad = rows[0]["p"], rows[1]["p"]
    assert good.asDict() == {
        "ts_str": "2026-01-01T00:00:07Z",
        "level": "WARN",
        "svc": "svc-7",
        "code": "149",
        "dur_us": "917",
        "msg": "POST /p/7",
    }
    assert bad["level"] is None and bad["code"] is None
    assert bad["svc"] == "svc-7" and bad["msg"] == "POST /p/7"


def test_engine_parity(spark):
    """Both engines produce byte-identical structs on the corpus
    (including its 1% malformed rows)."""
    pages = generate_pages(spark, 3000)
    a = pages.select("doc_id", extract_log_sql(F.col("text")).alias("p")).orderBy("doc_id").collect()
    b = pages.select("doc_id", extract_log_pandas(F.col("text")).alias("p")).orderBy("doc_id").collect()
    assert a == b


def test_extraction_pure_function(spark):
    """Same input -> same bytes across runs and partitionings (the
    BASELINE.json per-row invariant)."""
    p1 = parse_pages(generate_pages(spark, 2000, partitions=3)).orderBy("doc_id").collect()
    p2 = parse_pages(generate_pages(spark, 2000, partitions=11)).orderBy("doc_id").collect()
    assert p1 == p2


def test_parse_pages_fields(spark):
    parsed = parse_pages(generate_pages(spark, 2000), with_title=True)
    assert "text" not in parsed.columns and "html" not in parsed.columns
    row = parsed.filter(F.col("doc_id") == 42).collect()[0]
    assert row["svc"] == "svc-2"
    assert row["code"] == 100 + (42 * 7) % 500
    assert row["dur_us"] == (42 * 131) % 1000000
    assert row["title"] == "T42"
    assert row["domain"].endswith((".example.com", ".example.org"))
    malformed_rate = parsed.filter("malformed").count() / 2000
    assert 0.003 < malformed_rate < 0.03


def test_no_per_row_python_in_plan(spark):
    """input_hint: no per-row Python — plan must not contain BatchEvalPython."""
    pages = generate_pages(spark, 100)
    plan_sql = parse_pages(pages)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan_sql
    plan_pd = parse_pages(pages, engine="pandas")._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan_pd
    assert "ArrowEvalPython" in plan_pd


def test_traceparent_parse_valid_and_invalid(spark):
    from pyspark.sql import functions as F

    from opentelemetry_collector_components_spark.functions.extract import (
        parse_traceparent,
    )

    rows = [
        ("00-" + "ab" * 16 + "-" + "cd" * 8 + "-01",),   # valid, sampled
        ("00-" + "ab" * 16 + "-" + "cd" * 8 + "-00",),   # valid, unsampled
        ("00-" + "00" * 16 + "-" + "cd" * 8 + "-01",),   # zero trace id
        ("ff-" + "ab" * 16 + "-" + "cd" * 8 + "-01",),   # version ff
        ("00-" + "AB" * 16 + "-" + "cd" * 8 + "-01",),   # uppercase: invalid
        ("garbage",),
        (None,),
    ]
    df = spark.createDataFrame(rows, "h string")
    out = df.select(parse_traceparent(F.col("h")).alias("tp")).collect()
    assert out[0]["tp"]["trace_id"] == "ab" * 16 and out[0]["tp"]["sampled"]
    assert out[1]["tp"]["sampled"] is False
    assert all(out[i]["tp"] is None for i in range(2, 7))


def test_severity_number_mapping(spark):
    from pyspark.sql import functions as F

    from opentelemetry_collector_components_spark.functions.extract import (
        severity_number,
    )

    rows = [("INFO",), ("warning",), ("Err",), ("FATAL",), ("critical",),
            ("debug3",), ("nope",), (None,)]
    df = spark.createDataFrame(rows, "s string")
    got = [r[0] for r in df.select(severity_number(F.col("s"))).collect()]
    assert got == [9, 13, 17, 21, 21, 7, 0, 0]


def test_traceparent_future_version_tolerance(spark):
    """Versions 01-fe parse as version 00 and may carry trailing
    fields; version 00 must end at the flags byte (W3C forward-compat
    rule; review fix)."""
    from pyspark.sql import functions as F

    from opentelemetry_collector_components_spark.functions.extract import (
        parse_traceparent,
    )

    base = "ab" * 16 + "-" + "cd" * 8
    rows = [
        ("01-" + base + "-01-extrafield",),  # future version + tail: valid
        ("01-" + base + "-01",),             # future version, no tail: valid
        ("00-" + base + "-01-extrafield",),  # version 00 with tail: invalid
    ]
    df = spark.createDataFrame(rows, "h string")
    out = df.select(parse_traceparent(F.col("h")).alias("tp")).collect()
    assert out[0]["tp"]["trace_id"] == "ab" * 16 and out[0]["tp"]["sampled"]
    assert out[1]["tp"] is not None
    assert out[2]["tp"] is None


def test_regexp_extract_multi_matches_per_group_semantics(spark):
    # r6 single-pass extraction: element k must equal
    # regexp_extract(text, pat, idxs[k]) on every shape — first-match
    # probe order, optional groups, anchors, word boundaries, inline
    # multiline flags, no-match rows, NULL rows, and rows containing the
    # delimiter control chars (per-row fallback)
    import pytest
    from pyspark.sql import functions as F

    from opentelemetry_collector_components_spark.functions.extract import (
        regexp_extract_multi,
    )

    cases = [
        ("multiline\nvalue key=abc", r"key=(\w+)", [1]),
        ("a\nb=1\nc", r"(?m)^b=(\d)$", [1]),
        ("xx12yy34 zz56", r"(\d+)(?:yy(\d+))?", [1, 2]),
        ("", r"(.*)", [1]),
        (None, r"(\w+)", [1]),
        ("no match here", r"(\d{5})", [1]),
        ("padpad key=v tail", r"\bkey=(\S+)", [1]),
        ("with \x01 delim key=v", r"key=(\S+)", [1]),
        ("with \x02 too key=v", r"key=(\S+)", [1]),
    ]
    for text, pat, idxs in cases:
        d = spark.createDataFrame([(text,)], "text string")
        want = d.select(
            *[F.regexp_extract("text", pat, i).alias(f"g{i}") for i in idxs]
        ).collect()[0]
        arr = regexp_extract_multi(F.col("text"), pat, idxs)
        got = d.select(
            *[
                F.element_at(arr, k + 1).alias(f"g{i}")
                for k, i in enumerate(idxs)
            ]
        ).collect()[0]
        assert tuple(got) == tuple(want), (text, pat)
    with pytest.raises(ValueError, match="group indexes"):
        regexp_extract_multi(F.col("text"), r"(\d+)", [0, 1])
