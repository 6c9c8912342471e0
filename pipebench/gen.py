"""Seeded input generator: pages parquet, domain dimension, OTLP bodies.

Every value is drawn from a NumPy generator keyed by ``(seed, stream,
batch)``, so the same seed gives byte-identical files, and every batch of
a run gets rows no earlier batch had.  The per-row draws (``Docs``) are
the ground truth the checks in ``truth.py`` aggregate; the program under
test only ever sees the files written here.

Input make-up (the same for every seed):

- 3 hot domains take 20% of rows, the rest spread over 1000 cold
  domains; 5% of the cold domains are absent from the dimension, so the
  enrich stage's ``unknown`` default runs;
- timestamps are uniform over one day, so a 1-minute group keyed by
  ``(sink, geo, svc, domain)`` holds about one document;
- levels INFO/WARN/ERROR 70/20/10%, 50 services, codes 100..599;
- 1% of lines are malformed: ``level=`` and ``code=`` are missing, as in
  the program's own ``sources/pages.py`` fixture.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from . import wire

EPOCH_2026 = 1767225600  # 2026-01-01T00:00:00Z
DAY_S = 86400
N_HOT = 3
N_COLD = 1000
HOT_SHARE = 0.20
MALFORMED_SHARE = 0.01
DIM_MISSING_SHARE = 0.05
N_SVC = 50
LEVELS = ("INFO", "WARN", "ERROR")
LEVEL_P = (0.7, 0.2, 0.1)
SEVERITY_NUMBER = (9, 13, 17)  # OTLP SeverityNumber for INFO, WARN, ERROR
LANGS = ("en", "de", "fr", "es", "ja")
LANG_P = (0.60, 0.15, 0.10, 0.10, 0.05)
VERBS = ("GET", "POST", "PUT")
GEOS = ("us", "eu", "apac", "latam")
# two categories carry characters the router must normalise to '_'
CATEGORIES = ("news", "shop", "blog", "docs", "Dev-Tools", "Q&A")
FILES_PER_BATCH = 8  # several data files per batch, so the scan splits over task slots
RECORDS_PER_REQUEST = 200  # OTLP exporter batch: one request per service run, at most this many

# random streams: one per workload, so workloads never share rows
STREAM_DIM, STREAM_PAGES, STREAM_OTLP, STREAM_FANOUT = 0, 1, 2, 3

DOMAINS = np.array(
    [f"hot{i}.example.com" for i in range(N_HOT)] + [f"d{i}.example.org" for i in range(N_COLD)],
    dtype=object,
)


def _rng(seed: int, stream: int, batch: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, stream, batch]))


def dimension(seed: int) -> pd.DataFrame:
    """``domain -> geo, category, expected_lang``; hot domains are always
    present, ``DIM_MISSING_SHARE`` of the cold ones are left out."""
    rng = _rng(seed, STREAM_DIM, 0)
    n = len(DOMAINS)
    keep = np.ones(n, dtype=bool)
    missing = rng.choice(N_COLD, size=int(N_COLD * DIM_MISSING_SHARE), replace=False) + N_HOT
    keep[missing] = False
    geo = rng.integers(0, len(GEOS), n)
    cat = rng.integers(0, len(CATEGORIES), n)
    exp_lang = rng.integers(0, 3, n)
    return pd.DataFrame(
        {
            "domain": DOMAINS[keep],
            "geo": np.array(GEOS, dtype=object)[geo[keep]],
            "category": np.array(CATEGORIES, dtype=object)[cat[keep]],
            "expected_lang": np.array(LANGS[:3], dtype=object)[exp_lang[keep]],
        }
    )


@dataclass(frozen=True)
class Docs:
    """Per-row draws of one batch (all arrays of length ``n``)."""

    doc_id: np.ndarray
    domain: np.ndarray  # index into DOMAINS
    ts: np.ndarray  # epoch seconds
    level: np.ndarray  # index into LEVELS
    svc: np.ndarray
    code: np.ndarray
    dur_us: np.ndarray
    malformed: np.ndarray  # bool
    path: np.ndarray
    verb: np.ndarray
    lang: np.ndarray  # index into LANGS

    def __len__(self) -> int:
        return len(self.doc_id)


def docs(seed: int, stream: int, batch: int, n: int) -> Docs:
    rng = _rng(seed, stream, batch)
    hot = rng.random(n) < HOT_SHARE
    domain = np.where(hot, rng.integers(0, N_HOT, n), N_HOT + rng.integers(0, N_COLD, n))
    return Docs(
        doc_id=np.arange(batch * n, (batch + 1) * n, dtype=np.int64),
        domain=domain,
        ts=EPOCH_2026 + rng.integers(0, DAY_S, n),
        level=rng.choice(len(LEVELS), n, p=LEVEL_P),
        svc=rng.integers(0, N_SVC, n),
        code=rng.integers(100, 600, n),
        dur_us=rng.integers(0, 1_000_000, n),
        malformed=rng.random(n) < MALFORMED_SHARE,
        path=rng.integers(0, 1000, n),
        verb=rng.integers(0, len(VERBS), n),
        lang=rng.choice(len(LANGS), n, p=LANG_P),
    )


def _s(values) -> pa.Array:
    return pc.cast(pa.array(values), pa.string())


def _pick(names, idx: np.ndarray) -> pa.Array:
    return pa.array(list(names), pa.string()).take(pa.array(idx))


def _cat(*parts) -> pa.Array:
    return pc.binary_join_element_wise(*parts, "")


def _2d(values: np.ndarray) -> pa.Array:
    return pc.utf8_lpad(_s(values), 2, "0")


def _text_columns(d: Docs) -> dict[str, pa.Array]:
    """url, log line and lang as Arrow string arrays."""
    sec = d.ts - EPOCH_2026  # all timestamps fall on 2026-01-01
    iso = _cat("ts=2026-01-01T", _2d(sec // 3600), ":", _2d(sec // 60 % 60), ":", _2d(sec % 60), "Z")
    path = _cat("p/", _s(d.path))
    svc = _cat(" svc=svc-", _s(d.svc))
    dur = _cat(" dur_us=", _s(d.dur_us))
    msg = _cat(' msg="', _pick(VERBS, d.verb), " /", path, '"')
    well_formed = _cat(iso, " level=", _pick(LEVELS, d.level), svc, " code=", _s(d.code), dur, msg)
    malformed = _cat(iso, svc, dur, msg)
    return {
        "url": _cat("https://", _pick(DOMAINS, d.domain), "/", path),
        "text": pc.if_else(pa.array(d.malformed), malformed, well_formed),
        "lang": _pick(LANGS, d.lang),
    }


def pages_table(d: Docs) -> pa.Table:
    """The pages table ``(url, warc_ts, html, text, lang)``."""
    cols = _text_columns(d)
    html = _cat(
        "<html><head><title>T", _s(d.doc_id), "</title></head><body>", cols["text"], "</body></html>"
    )
    return pa.table(
        {
            "url": cols["url"],
            "warc_ts": pa.array(d.ts * 1_000_000, pa.timestamp("us", tz="UTC")),
            "html": pc.cast(html, pa.binary()),
            "text": cols["text"],
            "lang": cols["lang"],
        }
    )


def otlp_table(d: Docs) -> pa.Table:
    """OTLP/protobuf ``ExportLogsServiceRequest`` bodies in column ``body``.

    Records are grouped by service, as an exporter batches them: one
    request per run of at most ``RECORDS_PER_REQUEST`` records of one
    service.  Each record carries the log line as its body, the url and
    page language as attributes, the level as its severity (left out on
    malformed lines) and the timestamp in nanoseconds."""
    order = np.argsort(d.svc, kind="stable")
    d = Docs(**{k: v[order] for k, v in vars(d).items()})
    cols = _text_columns(d)
    well = ~d.malformed
    records = wire.log_record_array(
        d.ts.astype(np.uint64) * np.uint64(1_000_000_000),
        np.where(well, np.array(SEVERITY_NUMBER)[d.level], 0),
        pc.if_else(pa.array(well), _pick(LEVELS, d.level), pa.scalar(None, pa.string())),
        cols["text"],
        [("url.full", cols["url"]), ("page.lang", cols["lang"])],
    )
    framed = wire.ld_array(2, records).to_pylist()  # ScopeLogs.log_records
    # request boundaries: where the service changes, and every RECORDS_PER_REQUEST within a run
    run_start = np.flatnonzero(np.r_[True, d.svc[1:] != d.svc[:-1]])
    starts = np.unique(np.concatenate(
        [np.arange(s, e, RECORDS_PER_REQUEST) for s, e in zip(run_start, np.r_[run_start[1:], len(d)])]
    ))
    bodies = [
        wire.export_logs_framed(f"svc-{d.svc[s]}", "pipebench", b"".join(framed[s:e]))
        for s, e in zip(starts, np.r_[starts[1:], len(d)])
    ]
    return pa.table({"body": pa.array(bodies, pa.binary())})


def write_parquet(table: pa.Table, dirpath: str, n_files: int = FILES_PER_BATCH) -> None:
    """Write ``table`` as ``n_files`` contiguous data files under ``dirpath``."""
    os.makedirs(dirpath, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(dirpath, f"part-{i:03d}.parquet"), compression="snappy")
