"""The benchmark's protobuf writer against hand-computed byte vectors."""

import numpy as np
import pyarrow as pa
import pytest

from pipebench import wire


@pytest.mark.parametrize(
    "n, encoded",
    [(0, b"\x00"), (1, b"\x01"), (127, b"\x7f"), (128, b"\x80\x01"), (300, b"\xac\x02"),
     (16383, b"\xff\x7f"), (16384, b"\x80\x80\x01")],
)
def test_varint(n, encoded):
    assert wire.varint(n) == encoded


def test_varint_rejects_negative():
    with pytest.raises(ValueError):
        wire.varint(-1)


def test_field_writers():
    assert wire.tag(1, wire.FIXED64) == b"\x09"
    assert wire.ld(2, b"abc") == b"\x12\x03abc"
    assert wire.uint(2, 9) == b"\x10\x09"
    assert wire.fixed64(1, 1) == b"\x09\x01\x00\x00\x00\x00\x00\x00\x00"
    assert wire.any_string("v") == b"\x0a\x01v"
    # KeyValue{key="k", value=AnyValue{string_value="v"}}
    assert wire.key_value("k", "v") == b"\x0a\x01k\x12\x03\x0a\x01v"


def test_log_record():
    got = wire.log_record(2, 9, "INFO", "hi", [("a", "b")])
    assert got == (
        b"\x09\x02\x00\x00\x00\x00\x00\x00\x00"  # time_unix_nano = 2
        b"\x10\x09"  # severity_number = 9
        b"\x1a\x04INFO"  # severity_text
        b"\x2a\x04\x0a\x02hi"  # body = AnyValue{"hi"}
        b"\x32\x08\x0a\x01a\x12\x03\x0a\x01b"  # attributes {a: b}
    )
    # proto3 defaults are left off the wire
    assert wire.log_record(2, 0, None, "hi", []) == b"\x09\x02\x00\x00\x00\x00\x00\x00\x00\x2a\x04\x0a\x02hi"


def test_export_logs_request():
    rec = wire.log_record(0, 0, None, "x", [])
    assert rec == b"\x09" + b"\x00" * 8 + b"\x2a\x03\x0a\x01x"
    got = wire.export_logs_request("s", "sc", [rec])
    # KeyValue(19 B) in Resource(21 B) in ResourceLogs.resource (23 B)
    resource = b"\x0a\x15" + b"\x0a\x13" + b"\x0a\x0cservice.name" + b"\x12\x03\x0a\x01s"
    # ScopeLogs(22 B): scope{name} (6 B) + one log_records field (16 B)
    scope_logs = b"\x12\x16" + b"\x0a\x04\x0a\x02sc" + b"\x12\x0e" + rec
    assert got == b"\x0a\x2f" + resource + scope_logs


def test_array_forms_match_scalar_forms():
    ts = np.array([0, 1, 2**63 + 5, 1767225600 * 10**9], dtype=np.uint64)
    sev = np.array([0, 9, 13, 17])
    sev_text = pa.array([None, "INFO", "WARN", "ERROR"])
    body = pa.array(["", "a" * 200, "é", "line"])
    url = pa.array(["u0", "u1", "u" * 130, "u3"])
    got = wire.log_record_array(ts, sev, sev_text, body, [("url.full", url)]).to_pylist()
    want = [
        wire.log_record(int(ts[i]), int(sev[i]), sev_text[i].as_py(), body[i].as_py(),
                        [("url.full", url[i].as_py())])
        for i in range(4)
    ]
    assert got == want
    assert wire.ld_array(2, pa.array(got)).to_pylist() == [wire.ld(2, r) for r in want]


def test_varint_array_range():
    assert wire.varint_array(np.array([0, 300])).to_pylist() == [b"\x00", b"\xac\x02"]
    with pytest.raises(ValueError):
        wire.varint_array(np.array([1 << 14]))
