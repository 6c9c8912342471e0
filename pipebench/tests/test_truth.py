"""The ground-truth calculator on a tiny input checked by hand."""

import numpy as np
import pandas as pd

from pipebench import gen, truth

E = gen.EPOCH_2026
INFO, WARN, ERROR = 0, 1, 2


def _docs():
    # domain 0 = hot0.example.com (in the dimension), 3 = d0.example.org (absent)
    return gen.Docs(
        doc_id=np.arange(5),
        domain=np.array([0, 0, 3, 0, 3]),
        ts=np.array([E + 5, E + 59, E + 61, E + 700, E + 3601]),
        level=np.array([INFO, WARN, INFO, ERROR, INFO]),
        svc=np.array([1, 1, 2, 1, 2]),
        code=np.array([200, 404, 399, 500, 100]),
        dur_us=np.array([10, 20, 30, 40, 50]),
        malformed=np.array([False, False, False, False, True]),
        path=np.zeros(5, dtype=int),
        verb=np.zeros(5, dtype=int),
        lang=np.zeros(5, dtype=int),
    )


DIM = pd.DataFrame(
    {"domain": ["hot0.example.com"], "geo": ["eu"], "category": ["Q&A"], "expected_lang": ["en"]}
)


def test_truth_frame():
    t = truth.truth_frame(_docs(), DIM)
    assert t["sink"].tolist() == ["logs.q_a", "logs.q_a", "logs.unknown", "logs.error", "logs.error"]
    assert t["geo"].tolist() == ["eu", "eu", "unknown", "eu", "unknown"]
    assert t["svc"].tolist() == ["svc-1", "svc-1", "svc-2", "svc-1", "svc-2"]
    assert t["success"].tolist() == [1, 0, 1, 0, 0]  # the malformed row has no code
    assert t["failure"].tolist() == [0, 1, 0, 1, 0]
    assert t["malformed"].tolist() == [0, 0, 0, 0, 1]


def _rows(label, seconds, rows):
    """Interval rows as the program writes them: (window_start, sink, geo, metrics...)."""
    cols = ["window_start", "sink", "geo", *truth.METRICS]
    df = pd.DataFrame(rows, columns=cols)
    return df.assign(metricset_interval=label, window_end=df["window_start"] + seconds)


def _expected():
    # worked out by hand from _docs(): keys (sink, geo)
    return pd.concat(
        [
            _rows("1m", 60, [
                (E, "logs.q_a", "eu", 2, 30, 10, 20, 1, 1),
                (E + 60, "logs.unknown", "unknown", 1, 30, 30, 30, 1, 0),
                (E + 660, "logs.error", "eu", 1, 40, 40, 40, 0, 1),
                (E + 3600, "logs.error", "unknown", 1, 50, 50, 50, 0, 0),
            ]),
            _rows("10m", 600, [
                (E, "logs.q_a", "eu", 2, 30, 10, 20, 1, 1),
                (E, "logs.unknown", "unknown", 1, 30, 30, 30, 1, 0),
                (E + 600, "logs.error", "eu", 1, 40, 40, 40, 0, 1),
                (E + 3600, "logs.error", "unknown", 1, 50, 50, 50, 0, 0),
            ]),
            _rows("60m", 3600, [
                (E, "logs.q_a", "eu", 2, 30, 10, 20, 1, 1),
                (E, "logs.unknown", "unknown", 1, 30, 30, 30, 1, 0),
                (E, "logs.error", "eu", 1, 40, 40, 40, 0, 1),
                (E + 3600, "logs.error", "unknown", 1, 50, 50, 50, 0, 0),
            ]),
        ]
    ).sample(frac=1, random_state=1)  # row order must not matter


def test_check_rollup_accepts_hand_computed_rows():
    assert truth.check_rollup(_expected(), truth.truth_frame(_docs(), DIM), ["sink", "geo"]) == []


def test_check_rollup_rejects_wrong_rows():
    t = truth.truth_frame(_docs(), DIM)
    out = _expected()
    bad = out.copy()
    bad.loc[bad["dur_us_max"] == 20, "dur_us_max"] = 21
    assert any("dur_us_max" in e for e in truth.check_rollup(bad, t, ["sink", "geo"]))
    missing = out.iloc[1:]
    assert truth.check_rollup(missing, t, ["sink", "geo"])
    shifted = out.assign(window_start=out["window_start"] + 1)
    assert any("aligned" in e for e in truth.check_rollup(shifted, t, ["sink", "geo"]))
