"""Ground truth from the generator's per-row draws, and the batch checks.

Nothing here runs the program: the expected routing, enrichment and
interval aggregates are computed with pandas from ``gen.Docs`` and the
generated dimension, following the pipeline's documented semantics:

- a line missing ``level=`` or ``code=`` is malformed;
- malformed and ERROR lines route to ``logs.error``, the rest to
  ``logs.<category>`` with the category lower-cased and every character
  outside ``[a-z0-9]`` replaced by ``_``; a domain absent from the
  dimension has geo and category ``unknown``;
- a code below 400 is a success, 400 and above a failure, a missing code
  neither;
- interval rows hold ``docs``, the ``dur_us`` sum, min and max, and the
  success and failure counts per window start and key.
"""

from __future__ import annotations

import os
import re
from urllib.parse import unquote

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from . import gen

ERROR_SINK = "logs.error"
INTERVALS = {"1m": 60, "10m": 600, "60m": 3600}
METRICS = ["docs", "dur_us_sum", "dur_us_min", "dur_us_max", "success_count", "failure_count"]


def sink_for(category: str) -> str:
    return "logs." + re.sub(r"[^a-z0-9]", "_", category.lower())


def truth_frame(d: gen.Docs, dim: pd.DataFrame) -> pd.DataFrame:
    """One row per document: its timestamp, keys and measures."""
    pos = pd.Index(gen.DOMAINS).get_indexer(dim["domain"])
    geo = np.full(len(gen.DOMAINS), "unknown", dtype=object)
    category = geo.copy()
    geo[pos] = dim["geo"].to_numpy()
    category[pos] = dim["category"].to_numpy()
    sink_by_category = {c: sink_for(c) for c in set(category)}
    error = d.malformed | (d.level == gen.LEVELS.index("ERROR"))
    has_code = ~d.malformed
    return pd.DataFrame(
        {
            "ts": d.ts,
            "sink": np.where(error, ERROR_SINK, [sink_by_category[c] for c in category[d.domain]]),
            "geo": geo[d.domain],
            "svc": ("svc-" + pd.Series(d.svc).astype(str)).to_numpy(),
            "domain": gen.DOMAINS[d.domain],
            "dur_us": d.dur_us,
            "success": (has_code & (d.code < 400)).astype(np.int64),
            "failure": (has_code & (d.code >= 400)).astype(np.int64),
            "malformed": d.malformed.astype(np.int64),
        }
    )


# how truth rows fold into interval rows, and how interval rows re-fold
FROM_DOCS = {
    "docs": ("dur_us", "size"), "dur_us_sum": ("dur_us", "sum"), "dur_us_min": ("dur_us", "min"),
    "dur_us_max": ("dur_us", "max"), "success_count": ("success", "sum"), "failure_count": ("failure", "sum"),
}
REFOLD = {
    "docs": ("docs", "sum"), "dur_us_sum": ("dur_us_sum", "sum"), "dur_us_min": ("dur_us_min", "min"),
    "dur_us_max": ("dur_us_max", "max"), "success_count": ("success_count", "sum"),
    "failure_count": ("failure_count", "sum"),
}


def _keys(frames: list[pd.DataFrame], cols: list[str]) -> list[np.ndarray]:
    """Per frame, one int64 per row, equal across all frames exactly when
    every column in ``cols`` is equal (a mixed-radix code over the jointly
    factorized columns)."""
    bounds = np.cumsum([0] + [len(f) for f in frames])
    key = np.zeros(bounds[-1], dtype=np.int64)
    for c in cols:
        codes, uniques = pd.factorize(np.concatenate([f[c].to_numpy() for f in frames]))
        key = key * len(uniques) + codes
    return [key[bounds[i]:bounds[i + 1]] for i in range(len(frames))]


def _fold(frame: pd.DataFrame, key: np.ndarray, spec: dict) -> pd.DataFrame:
    return frame.groupby(key, sort=True).agg(**spec).astype(np.int64)


def _diff(label: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Compare two frames of METRICS indexed by row key."""
    if len(got) != len(want) or not got.index.equals(want.index):
        return [f"{label}: {len(got)} rows, expected {len(want)} (or keys differ)"]
    for col in METRICS:
        g, w = got[col].to_numpy(), want[col].to_numpy()
        bad = np.flatnonzero(g != w)
        if len(bad):
            return [f"{label}: {col} differs in {len(bad)} rows, first {g[bad[0]]} != {w[bad[0]]}"]
    return []


def _epoch_s(col: pa.ChunkedArray) -> np.ndarray:
    return pc.cast(pc.cast(col, pa.timestamp("s")), pa.int64()).to_numpy()


def read_rollup(path: str, keys: list[str]) -> pd.DataFrame:
    """The union frame written by a rollup batch, timestamps as epoch seconds."""
    t = pq.read_table(path, columns=["window_start", "window_end", "metricset_interval", *keys, *METRICS])
    df = t.drop(["window_start", "window_end"]).to_pandas()
    df["window_start"] = _epoch_s(t.column("window_start"))
    df["window_end"] = _epoch_s(t.column("window_end"))
    return df


def _interval_rows(rows: pd.DataFrame, key: np.ndarray) -> pd.DataFrame:
    return rows[METRICS].astype(np.int64).set_axis(key).sort_index()


def _window_keys(bases: list[np.ndarray], starts: list[np.ndarray], seconds: int) -> list[np.ndarray]:
    """Extend per-row key codes with the row's window index."""
    wins = [s // seconds for s in starts]
    lo = min(w.min() for w in wins if len(w))
    radix = max(w.max() for w in wins if len(w)) - lo + 1
    return [b * radix + (w - lo) for b, w in zip(bases, wins)]


def check_rollup(out: pd.DataFrame, truth: pd.DataFrame, keys: list[str]) -> list[str]:
    """Every interval row matches the truth; coarser intervals are a
    re-fold of the 1m rows; each interval sums to the batch size."""
    errors = []
    base_t, base_o = _keys([truth, out], keys)
    fine = None
    for label, seconds in INTERVALS.items():
        sel = (out["metricset_interval"] == label).to_numpy()
        rows = out[sel]
        start = rows["window_start"].to_numpy()
        if not len(rows):
            errors.append(f"{label}: no rows")
            continue
        if (start % seconds).any() or (rows["window_end"].to_numpy() - start != seconds).any():
            errors.append(f"{label}: windows not aligned to {seconds}s")
        kt, kr = _window_keys([base_t, base_o[sel]], [truth["ts"].to_numpy(), start], seconds)
        errors += _diff(label, _interval_rows(rows, kr), _fold(truth, kt, FROM_DOCS))
        if int(rows["docs"].sum()) != len(truth):
            errors.append(f"{label}: docs sum {int(rows['docs'].sum())} != batch size {len(truth)}")
        if fine is None:
            fine = rows, base_o[sel], start
            continue
        kf, kr = _window_keys([fine[1], base_o[sel]], [fine[2], start], seconds)
        errors += _diff(f"{label} re-fold of 1m", _interval_rows(rows, kr), _fold(fine[0], kf, REFOLD))
    return errors


def fanout_counts(fanout_dir: str) -> dict[str, int]:
    """Rows per sink, read from the ``sink=<value>`` directories' parquet footers."""
    counts = {}
    for entry in sorted(os.listdir(fanout_dir)):
        if not entry.startswith("sink="):
            continue
        sub = os.path.join(fanout_dir, entry)
        counts[unquote(entry[len("sink="):])] = sum(
            pq.ParquetFile(os.path.join(sub, f)).metadata.num_rows
            for f in os.listdir(sub)
            if f.endswith(".parquet")
        )
    return counts


def check_fanout(fanout_dir: str, lineage_dir: str, truth: pd.DataFrame) -> list[str]:
    """Per-sink row counts on disk and the lineage rows match the truth."""
    want = (
        truth.groupby("sink", sort=True)
        .agg(rows_out=("ts", "size"), malformed=("malformed", "sum"), min_ts=("ts", "min"), max_ts=("ts", "max"))
        .astype(np.int64)
    )
    errors = []
    counts = fanout_counts(fanout_dir)
    if counts != want["rows_out"].to_dict():
        errors.append(f"fanout counts {counts} != {want['rows_out'].to_dict()}")
    t = pq.read_table(lineage_dir)
    got = t.select(["sink", "rows_out", "malformed"]).to_pandas()
    got["min_ts"] = _epoch_s(t.column("min_ts"))
    got["max_ts"] = _epoch_s(t.column("max_ts"))
    got = got.sort_values("sink").set_index("sink").astype(np.int64)
    if not got.equals(want):
        errors.append(f"lineage rows\n{got}\n!= expected\n{want}")
    return errors
