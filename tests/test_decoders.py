"""Decoder sources: beats json/text/csv codecs, NDJSON intake dispatch,
and the shared binary-body transport (`decode_bodies`) behind every wire
decoder."""

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_components_spark.sources import (
    arrow_stream,
    avro_ocf,
    cbor_records,
    forward,
    gelf,
    iceberg_meta,
    jaeger,
    journald,
    kafka_batch,
    otlp,
    parquet_meta,
)
from opentelemetry_collector_components_spark.sources import decoders as prw
from opentelemetry_collector_components_spark.sources.decoders import (
    decode_csv,
    decode_json,
    decode_ndjson_intake,
    decode_text,
)


def test_decode_text(spark):
    lines = spark.createDataFrame([("hello",), ("world",)], ["value"])
    out = decode_text(lines, tags=["t1"]).collect()
    assert out[0]["message"] == "hello"
    assert out[0]["input_type"] == "text"
    assert out[0]["tags"] == ["t1"]


def test_decode_json_unwrap_and_mapping(spark):
    lines = spark.createDataFrame(
        [('{"event": {"msg": "a", "lvl": 3}}',), ('{"event": {"msg": "b", "lvl": 7}}',)],
        ["value"],
    )
    out = decode_json(
        lines,
        "event struct<msg:string, lvl:int>",
        unwrap="event",
        mappings={"msg": "message"},
    )
    rows = {r["message"]: r["lvl"] for r in out.collect()}
    assert rows == {"a": 3, "b": 7}


def test_decode_csv(spark):
    lines = spark.createDataFrame([("x,1",), ("y,2",)], ["value"])
    out = decode_csv(lines, "name string, n int")
    rows = {r["name"]: r["n"] for r in out.collect()}
    assert rows == {"x": 1, "y": 2}


def test_ndjson_intake_dispatch(spark):
    lines = spark.createDataFrame(
        [
            ('{"metadata": {"service": "s1"}}',),
            ('{"transaction": {"id": "t1", "duration": 5}, "metadata": {"service": "s1"}}',),
            ('{"span": {"id": "sp1"}}',),
            ('{"error": {"id": "e1"}}',),
            ('{"bogus": 1}',),
        ],
        ["value"],
    )
    out = decode_ndjson_intake(lines)
    types = [r["event_type"] for r in out.collect()]
    assert types == ["unknown", "transaction", "span", "error", "unknown"]
    tx = out.filter("event_type = 'transaction'").collect()[0]
    assert '"id":"t1"' in tx["payload"].replace(" ", "")
    assert "s1" in tx["metadata"]


def test_ndjson_transaction_golden(spark):
    from pyspark.sql import functions as F

    """Parity with the reference's own NDJSON->pdata golden pair
    (testdata/transactions.ndjson line 2 -> transactions_expected.yaml):
    event-type dispatch, duration ms->us TRUNCATION (32.592981ms -> 32592),
    outcome defaulting to success and result to 'Success' when absent."""
    from opentelemetry_collector_components_spark.sources.decoders import (
        decode_ndjson_intake,
    )

    lines = [
        ('{"metadata": {"service": {"name": "1234_service-12a3", "agent": '
         '{"name": "elastic-node", "version": "3.14.0"}}}',),
        ('{"transaction": {"id": "945254c567a5417e", '
         '"trace_id": "0123456789abcdef0123456789abcdef", "type": "request", '
         '"duration": 32.592981, "timestamp": 1496170407154000, '
         '"span_count": {"started": 43}}}',),
    ]
    decoded = decode_ndjson_intake(spark.createDataFrame(lines, ["value"]))
    tx = decoded.filter("event_type = 'transaction'").select(
        F.get_json_object("payload", "$.id").alias("id"),
        F.get_json_object("payload", "$.type").alias("type"),
        (F.get_json_object("payload", "$.duration").cast("double") * 1000)
        .cast("long").alias("duration_us"),
        F.get_json_object("payload", "$.timestamp").cast("long").alias("ts_us"),
        F.coalesce(F.get_json_object("payload", "$.outcome"), F.lit("success")).alias("outcome"),
        F.coalesce(F.get_json_object("payload", "$.result"), F.lit("Success")).alias("result"),
        F.get_json_object("payload", "$.span_count.started").cast("long").alias("started"),
    ).collect()[0]
    # expected values from transactions_expected.yaml:130-170
    assert tx["id"] == "945254c567a5417e"
    assert tx["type"] == "request"
    assert tx["duration_us"] == 32592      # truncated, not rounded
    assert tx["ts_us"] == 1496170407154000
    assert tx["outcome"] == "success" and tx["result"] == "Success"
    assert tx["started"] == 43


def test_prw_translate_drops_unnamed_and_maps_labels(spark):
    """receiver.go:174-221: __name__ -> metric name; other labels -> dp
    attributes; one dp per sample; unnamed series dropped."""
    from pyspark.sql import functions as F

    from opentelemetry_collector_components_spark.sources.decoders import prw_translate

    rows = [
        ({"__name__": "up", "job": "api"}, [(1.0, 1000), (0.0, 2000)]),
        ({"job": "noname"}, [(5.0, 1000)]),  # missing __name__ -> dropped
    ]
    schema = ("labels map<string,string>, "
              "samples array<struct<value: double, ts_ms: long>>")
    out = prw_translate(spark.createDataFrame(rows, schema)).collect()
    assert len(out) == 2
    assert {r["metric_name"] for r in out} == {"up"}
    assert all(r["attributes"] == {"job": "api"} for r in out)
    assert sorted(r["value"] for r in out) == [0.0, 1.0]


def test_prw_wire_codecs_roundtrip():
    """Pure-Python prompb + snappy codecs (S5 full transport)."""
    from opentelemetry_collector_components_spark.functions.protowire import (
        decode_write_request,
        encode_write_request,
    )
    from opentelemetry_collector_components_spark.functions.snappy_codec import (
        snappy_compress,
        snappy_decompress,
    )

    series = [
        {"labels": {"__name__": "m1", "job": "j"},
         "samples": [(1.5, 1700000000000), (-2.5, -1)]},
        {"labels": {}, "samples": []},
    ]
    assert decode_write_request(snappy_decompress(snappy_compress(
        encode_write_request(series)))) == series
    # decompressor handles copy elements (the compressor never emits them):
    # 'abcd' literal + kind-1 copy (len 8, offset 4) = 'abcdabcdabcd'
    stream = bytes([12, (4 - 1) << 2]) + b"abcd" + bytes([((8 - 4) << 2) | 1, 4])
    assert snappy_decompress(stream) == b"abcdabcdabcd"


def test_prw_body_decode_drops_unnamed(spark):
    from opentelemetry_collector_components_spark.sources.decoders import (
        decode_prw_write_request,
        generate_prw_bodies,
        prw_translate,
    )

    bodies = generate_prw_bodies(spark, 14)
    series = decode_prw_write_request(bodies)
    # 14 bodies x 2 named series + 2 unnamed (i=0,7)
    assert series.count() == 30
    dps = prw_translate(series)
    assert dps.count() == 14 * 2 * 2  # unnamed series dropped, 2 samples each
    assert dps.filter("metric_name = ''").count() == 0
    plan = dps._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan  # the decode is Arrow-side


# ---------------------------------------------------------------------------
# logfmt
# ---------------------------------------------------------------------------
class TestLogfmt:
    def test_roundtrip_with_escapes(self, spark):
        from pyspark.sql import functions as F

        from opentelemetry_collector_components_spark.sources.decoders import (
            decode_logfmt,
            encode_logfmt,
        )

        rows = [
            (0, "GET", "ok message", "200"),
            (1, "POST", 'quote " inside', "404"),
            (2, "PUT", "back\\slash and = sign", "500"),
            (3, "DEL", "", "301"),
            (4, None, "plain", "302"),
        ]
        df = spark.createDataFrame(rows, ["i", "method", "msg", "status"])
        enc = df.select(
            "i",
            encode_logfmt(
                {
                    "method": F.col("method"),
                    "msg": F.col("msg"),
                    "status": F.col("status"),
                }
            ).alias("line"),
        )
        dec = decode_logfmt(enc, ["method", "msg", "status", "absent"], "line")
        out = {r["i"]: r for r in dec.collect()}
        for i, method, msg, status in rows:
            # NULL encodes as bare k= and decodes as "" (logfmt has no null)
            assert out[i]["method"] == (method if method is not None else "")
            assert out[i]["msg"] == msg
            assert out[i]["status"] == status
            assert out[i]["absent"] is None

    def test_encoder_quoting_rule(self, spark):
        from pyspark.sql import functions as F

        from opentelemetry_collector_components_spark.sources.decoders import (
            encode_logfmt,
        )

        df = spark.createDataFrame(
            [("bare", "with space", "", 'q"q', "a=b")],
            ["a", "b", "c", "d", "e"],
        )
        line = df.select(
            encode_logfmt({k: F.col(k) for k in "abcde"}).alias("l")
        ).collect()[0]["l"]
        assert line == 'a=bare b="with space" c="" d="q\\"q" e="a=b"'

    def test_decoder_key_validation_and_absence(self, spark):
        import pytest

        from opentelemetry_collector_components_spark.sources.decoders import (
            decode_logfmt,
        )

        df = spark.createDataFrame([("x=1 other=2",)], ["value"])
        out = decode_logfmt(df, ["x", "y"]).collect()[0]
        assert out["x"] == "1" and out["y"] is None
        with pytest.raises(ValueError, match="illegal logfmt key"):
            decode_logfmt(df, ["bad key"])

    def test_plan_is_jvm_only(self, spark):
        from opentelemetry_collector_components_spark.sources.decoders import (
            decode_logfmt,
        )

        df = spark.createDataFrame([("x=1",)], ["value"])
        plan = (
            decode_logfmt(df, ["x"])._jdf.queryExecution().executedPlan().toString()
        )
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cef_round_trip_hostile_values(spark):
    """CEF asymmetric escaping: pipes/backslashes in headers, equals/
    backslashes in extensions, spaces inside values, NULL omitted,
    bare k= -> empty string, absent key -> NULL, non-CEF line -> NULL
    headers."""
    from opentelemetry_collector_components_spark.sources.decoders import (
        decode_cef,
        encode_cef,
    )

    df = spark.range(1).select(
        encode_cef(
            F.lit("ACME"), F.lit("f|w"), F.lit("1.0"), F.lit("sig=9"),
            F.lit("evt |pipe\\slash"), F.lit("7"),
            {
                "src": F.lit("10.0.0.1"),
                "msg": F.lit("a=b |c d"),
                "spt": F.lit(None).cast("string"),
                "empty": F.lit(""),
            },
        ).alias("value")
    )
    r = decode_cef(df, ["src", "msg", "spt", "empty", "nope"]).collect()[0]
    assert r["cef_version"] == "0"
    assert r["device_vendor"] == "ACME"
    assert r["device_product"] == "f|w"
    assert r["signature_id"] == "sig=9"
    assert r["name"] == "evt |pipe\\slash"
    assert r["severity"] == "7"
    assert r["src"] == "10.0.0.1"
    assert r["msg"] == "a=b |c d"
    assert r["spt"] is None and r["nope"] is None
    assert r["empty"] == ""
    bad = decode_cef(
        spark.createDataFrame([("not cef",)], "value string"), ["src"]
    ).collect()[0]
    assert bad["device_vendor"] is None and bad["src"] is None


def test_cef_illegal_extension_key_raises(spark):
    import pytest

    from opentelemetry_collector_components_spark.sources.decoders import (
        decode_cef,
        encode_cef,
    )

    df = spark.createDataFrame([("x",)], "value string")
    with pytest.raises(ValueError, match="illegal CEF"):
        decode_cef(df, ["bad key"])
    with pytest.raises(ValueError, match="illegal CEF"):
        spark.range(1).select(
            encode_cef(
                F.lit("v"), F.lit("p"), F.lit("1"), F.lit("s"),
                F.lit("n"), F.lit("1"), {"a b": F.lit("x")},
            )
        )


# --- W3C extended log format ------------------------------------------------
def test_w3c_extlog_schema_from_header(spark):
    from opentelemetry_collector_components_spark.sources.decoders import (
        decode_w3c_extlog,
    )

    f1 = (b"#Version: 1.0\n#Fields: date c-ip sc-status\n"
          b"2024-01-01 1.2.3.4 200\n"
          b"2024-01-02 - 404\n"          # '-' is the spec's null
          b"2024-01-03 5.6.7.8\n")       # torn line: 2 values, 3 fields
    f2 = (b"#Version: 1.0\n#Fields: date cs-method\n"
          b"2024-02-01 GET\n")
    df = spark.createDataFrame([(f1,), (f2,)], "body binary")
    rows = decode_w3c_extlog(df).collect()
    ok = [r for r in rows if r.valid]
    bad = [r for r in rows if not r.valid]
    assert len(ok) == 3 and len(bad) == 1
    by_date = {r.fields["date"]: r for r in ok}
    assert by_date["2024-01-01"].fields["sc-status"] == "200"
    assert by_date["2024-01-02"].fields["c-ip"] is None
    assert by_date["2024-02-01"].fields["cs-method"] == "GET"
    assert by_date["2024-02-01"].n_fields == 2  # schema came from ITS header
    # plan stays JVM
    plan = decode_w3c_extlog(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_w3c_headerless_and_duplicate_fields_invalid(spark):
    from opentelemetry_collector_components_spark.sources.decoders import (
        decode_w3c_extlog,
    )

    headerless = b"just some text\nanother line\n"
    dupfields = b"#Fields: date date c-ip\n2024-01-01 2024-01-02 1.2.3.4\n"
    df = spark.createDataFrame([(headerless,), (dupfields,)], "body binary")
    rows = decode_w3c_extlog(df).collect()
    assert rows and all(not r.valid for r in rows)


def test_snappy_framing_format():
    import pytest as _pt

    from opentelemetry_collector_components_spark.functions.snappy_codec import (
        frame_compress,
        frame_decompress,
    )

    for size in (0, 1, 65536, 150_000):
        blob = (bytes(range(256)) * (size // 256 + 1))[:size]
        assert frame_decompress(frame_compress(blob)) == blob
        assert frame_decompress(frame_compress(blob, 999)) == blob
    good = frame_compress(b"hello world")
    # skippable reserved chunk (padding) is ignored
    padded = good[:10] + b"\xfe\x03\x00\x00xyz" + good[10:]
    assert frame_decompress(padded) == b"hello world"
    bad = bytearray(good)
    bad[-1] ^= 0xFF
    with _pt.raises(ValueError, match="CRC mismatch"):
        frame_decompress(bytes(bad))
    with _pt.raises(ValueError, match="identifier"):
        frame_decompress(b"\xff\x06\x00\x00sNoPpY" + good[10:])
    with _pt.raises(ValueError, match="unskippable"):
        frame_decompress(good + b"\x02\x01\x00\x00x")
    with _pt.raises(ValueError, match="overruns"):
        frame_decompress(good + b"\x00\xff\x00\x00")


def test_snappy_framing_empty_compressed_chunk_is_valueerror():
    import pytest as _pt

    from opentelemetry_collector_components_spark.functions.snappy_codec import (
        frame_compress,
        frame_decompress,
    )

    good = frame_compress(b"x")
    with _pt.raises(ValueError, match="empty snappy frame"):
        frame_decompress(good + b"\x00\x04\x00\x00\x00\x00\x00\x00")


# ---------------------------------------------------------------------------
# decode_bodies: the one binary-body transport behind every wire decoder
# ---------------------------------------------------------------------------
_CONFLUENT_SCHEMA = {
    "type": "record", "name": "R",
    "fields": [{"name": "a", "type": "long"}, {"name": "s", "type": "string"}],
}


def _otlp_bodies(spark, events):
    from opentelemetry_collector_components_spark.functions.protowire import (
        encode_otlp_logs_request,
    )

    bodies = [
        encode_otlp_logs_request(
            {"service_name": f"s{i % 2}"}, "lib",
            [{"time_unix_nano": i, "severity_number": 9, "body": f"m{i}",
              "attributes": {"k": str(i)}}] * (i + 1),
        )
        for i in range(3)
    ]
    return spark.createDataFrame([(b,) for b in bodies], "body binary")


def _confluent_bodies(spark, events):
    from opentelemetry_collector_components_spark.functions.avro_codec import (
        encode_value,
    )

    bodies = []
    for i in range(3):
        out = bytearray(b"\x00" + (5).to_bytes(4, "big"))
        encode_value(out, _CONFLUENT_SCHEMA, {"a": i, "s": f"v{i}"})
        bodies.append(bytes(out))
    return spark.createDataFrame([(b,) for b in bodies], "body binary")


#: every body decoder: (fixture bodies from (spark, events), decode)
BODY_DECODERS = {
    "otlp": (_otlp_bodies, otlp.decode_otlp_logs_protobuf),
    "jaeger": (
        lambda s, ev: jaeger.generate_jaeger_batches(ev),
        jaeger.decode_jaeger_batches,
    ),
    "forward": (
        lambda s, ev: forward.generate_forward_messages(ev),
        forward.decode_forward,
    ),
    "journald": (
        lambda s, ev: journald.generate_journal_export(ev),
        journald.decode_journal_export,
    ),
    "cbor_records": (
        lambda s, ev: cbor_records.generate_cbor_bodies(ev),
        cbor_records.decode_cbor_bodies,
    ),
    "avro_ocf": (
        lambda s, ev: avro_ocf.generate_avro_containers(ev),
        avro_ocf.decode_avro_containers,
    ),
    "avro_resolved": (
        lambda s, ev: avro_ocf.generate_avro_containers(ev),
        avro_ocf.decode_avro_containers_resolved,
    ),
    "confluent_wire": (
        _confluent_bodies,
        lambda df: avro_ocf.decode_confluent_frames(
            df, {5: _CONFLUENT_SCHEMA}
        ),
    ),
    "kafka_batch": (
        lambda s, ev: kafka_batch.generate_kafka_batches(ev),
        kafka_batch.decode_kafka_batches,
    ),
    "arrow_stream": (
        lambda s, ev: arrow_stream.generate_arrow_streams(ev),
        arrow_stream.decode_arrow_streams,
    ),
    "prw": (
        lambda s, ev: prw.generate_prw_bodies(s, 6),
        prw.decode_prw_write_request,
    ),
    "prw_v2": (
        lambda s, ev: prw.generate_prw_v2_bodies(s, 6),
        prw.decode_prw_write_request_v2,
    ),
    "gelf": (
        lambda s, ev: gelf.generate_gelf_bodies(ev),
        gelf.decode_gelf_datagrams,
    ),
}


@pytest.fixture(scope="module")
def fixture_bodies(spark, sf_dir):
    """name -> the decoder's fixture bodies, collected once as Python
    bytes, so test frames are plain local scans."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet").where(
        "event_id < 60"
    )
    cache: dict = {}

    def get(name):
        if name not in cache:
            make = BODY_DECODERS[name][0]
            cache[name] = [r.body for r in make(spark, events).collect()]
        return cache[name]

    return get


def _bodies_frame(spark, bodies):
    return spark.createDataFrame(
        [(b,) for b in bodies], "body binary"
    ).coalesce(1)


def _iceberg_plan(spark, empty, events):
    blobs = spark.createDataFrame(
        [("ml.avro", b"")], "path string, content binary"
    )
    meta = '{"current-snapshot-id": 1, "snapshots": [' \
        '{"snapshot-id": 1, "manifest-list": "ml.avro"}]}'
    return iceberg_meta.resolve_iceberg_snapshot(meta, blobs)


#: every migrated decode site -> (spark, empty body frame, a parquet
#: path) -> its output
PLAN_CASES = {
    **{name: (lambda s, e, p, dec=dec: dec(e))
       for name, (_, dec) in BODY_DECODERS.items()},
    "otlp_traces": lambda s, e, p: otlp.decode_otlp_traces_protobuf(e),
    "otlp_metrics": lambda s, e, p: otlp.decode_otlp_metrics_protobuf(e),
    "parquet_footer_columns":
        lambda s, e, p: parquet_meta.parquet_footer_columns(s, [p]),
    "parquet_zone_maps":
        lambda s, e, p: parquet_meta.rowgroup_zone_maps(s, p, "event_id"),
    "iceberg": _iceberg_plan,
}


@pytest.mark.parametrize("name", sorted(PLAN_CASES))
def test_decoder_plan_is_map_in_arrow(spark, sf_dir, name):
    """Every binary-body decoder crosses into Spark through decode_bodies:
    MapInArrow, never a pandas frame (MapInPandas) or per-row Python.
    GELF's chunk reassembly is the one grouped pass left on mapInPandas."""
    out = PLAN_CASES[name](
        spark, _bodies_frame(spark, []), f"{sf_dir}/events.parquet"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("MapInPandas") == (1 if name == "gelf" else 0)


@pytest.mark.parametrize("name", sorted(BODY_DECODERS))
def test_null_body_yields_no_rows(spark, fixture_bodies, name):
    """One NULL-body rule for every decoder: a NULL body is skipped —
    no invalid row, no task failure, its neighbours decode as before."""
    decode = BODY_DECODERS[name][1]
    bodies = fixture_bodies(name)
    assert bodies
    plain = decode(_bodies_frame(spark, bodies)).collect()
    mixed = decode(
        _bodies_frame(spark, bodies[:1] + [None] + bodies[1:] + [None])
    ).collect()
    assert plain
    assert sorted(map(repr, mixed)) == sorted(map(repr, plain))


BIG = (1 << 60) + 1  # above 2^53: a float64 round trip reads it as 2^60


def _avro_big_bodies():
    from opentelemetry_collector_components_spark.functions.avro_codec import (
        write_container,
    )

    recs = [
        {"eid": BIG, "uid": BIG + 2, "etype": "click", "vm": 1,
         "knum": BIG + 4, "tags": {}},
        {"eid": 7, "uid": 1, "etype": "view", "vm": 2, "knum": None,
         "tags": {"u": "x"}},
    ]
    blob = write_container(avro_ocf.EVENT_SCHEMA, recs, sync=b"s" * 16)
    return [blob, b"Obj\x01 torn container"]


def _cbor_big_bodies():
    from opentelemetry_collector_components_spark.functions.cbor_codec import (
        Tag,
        encode,
    )

    big = encode({"eid": BIG, "type": "click", "v": 1.5,
                  "ts": Tag(1, BIG + 2), "ks": [BIG, 3], "m": {"u": BIG + 6}})
    small = encode({"eid": None, "type": "view", "v": None,
                    "ts": Tag(1, 5), "ks": [1, 2], "m": {"u": None}})
    return [big + small, big[:-3]]


def _arrow_big_bodies():
    import io

    import pyarrow as pa

    t = pa.table(
        {
            "eid": pa.array([BIG, 3], type=pa.int64()),
            "etype": pa.array(["click", "view"]),
            "vm": pa.array([BIG + 4, None], type=pa.int64()),
            "val": pa.array([1.0, 2.0], type=pa.float64()),
            "ts_us": pa.array([BIG + 2, 9], type=pa.timestamp("us")),
        }
    )
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, t.schema) as w:
        w.write_table(t)
    blob = sink.getvalue()
    return [blob, blob[: len(blob) // 2]]


def _kafka_big_bodies():
    blob = kafka_batch.encode_record_batch(
        base_offset=BIG,
        base_timestamp_ms=1_700_000_000_000,
        records=[
            {"ts_ms": 1_700_000_000_000 + i, "key": b"k", "value": b"v",
             "headers": []}
            for i in range(2)
        ],
    )
    torn = bytearray(blob)
    torn[-1] ^= 0xFF  # CRC mismatch
    return [blob, bytes(torn)]


_INT64_BODY_CASES = {
    "avro_ocf": (
        _avro_big_bodies, avro_ocf.decode_avro_containers,
        {("eid", "knum"): {(BIG, BIG + 4), (7, None)}},
    ),
    "avro_resolved": (
        _avro_big_bodies, avro_ocf.decode_avro_containers_resolved,
        {("eid", "knum"): {(BIG, BIG + 4), (7, None)}},
    ),
    "cbor_records": (
        _cbor_big_bodies, cbor_records.decode_cbor_bodies,
        {("eid", "epoch", "k_sum", "uid"): {
            (BIG, BIG + 2, BIG + 3, BIG + 6), (None, 5, 3, None)}},
    ),
    "arrow_stream": (
        _arrow_big_bodies, arrow_stream.decode_arrow_streams,
        {("eid", "vm", "ts_us"): {(BIG, BIG + 4, BIG + 2), (3, None, 9)}},
    ),
    "kafka_batch": (
        _kafka_big_bodies, kafka_batch.decode_kafka_batches,
        {("offset",): {(BIG,), (BIG + 1,)}},
    ),
}


@pytest.mark.parametrize("name", sorted(_INT64_BODY_CASES))
def test_int64_exact_beside_nulls_and_invalid_rows(spark, name):
    """A LongType value above 2^53 shares one Arrow batch with a NULL in
    the same column (a nullable field, or the all-NULL invalid row of an
    undecodable body): it must come back exact, never via float64."""
    make, decode, want = _INT64_BODY_CASES[name]
    rows = decode(_bodies_frame(spark, make())).collect()
    assert sum(1 for r in rows if not r.valid) == 1
    valid = [r for r in rows if r.valid]
    for cols, expected in want.items():
        assert {tuple(r[c] for c in cols) for r in valid} == expected


def test_int64_exact_parquet_zone_maps(spark, tmp_path):
    """Row-group zone maps: an exact int64 min/max above 2^53 beside an
    all-NULL group's NULL envelope, and the no-statistics full-range
    sentinel (2^63 - 1) beside that NULL, all in one Arrow batch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    vals = pa.array([BIG + 4, BIG + 8, None, None], type=pa.int64())
    pq.write_table(pa.table({"v": vals}), f"{tmp_path}/a.parquet",
                   row_group_size=2)
    pq.write_table(pa.table({"v": vals}), f"{tmp_path}/b.parquet",
                   row_group_size=2, write_statistics=False)
    # pack both small files into one scan partition, hence one batch
    confs = {
        "spark.sql.files.maxPartitionBytes": str(1 << 30),
        "spark.sql.files.openCostInBytes": "0",
        "spark.sql.files.minPartitionNum": "1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        zm = parquet_meta.rowgroup_zone_maps(spark, str(tmp_path), "v")
        assert zm.rdd.getNumPartitions() == 1
        got = {(r.file_name, r.file_id): (r.v_min, r.v_max)
               for r in zm.collect()}
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    full = (-(1 << 63), (1 << 63) - 1)
    assert got == {
        ("a.parquet", 0): (BIG + 4, BIG + 8),
        ("a.parquet", 1): (None, None),
        ("b.parquet", 0): full,
        ("b.parquet", 1): full,
    }
