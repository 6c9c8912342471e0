"""The generator is a pure function of the seed."""

import hashlib
import os

import numpy as np

from pipebench import gen


def _digest(path):
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


def _write(tmp_path, tag, seed, batch=0, n=3000):
    d = gen.docs(seed, gen.STREAM_PAGES, batch, n)
    gen.write_parquet(gen.pages_table(d), str(tmp_path / tag / "pages"))
    gen.write_parquet(gen.otlp_table(d), str(tmp_path / tag / "otlp"))
    return _digest(tmp_path / tag / "pages"), _digest(tmp_path / tag / "otlp")


def test_same_seed_same_bytes(tmp_path):
    assert _write(tmp_path, "a", seed=7) == _write(tmp_path, "b", seed=7)
    assert gen.dimension(7).equals(gen.dimension(7))


def test_other_seed_or_batch_other_bytes(tmp_path):
    a = _write(tmp_path, "a", seed=7)
    assert a[0] != _write(tmp_path, "b", seed=8)[0]
    assert a[0] != _write(tmp_path, "c", seed=7, batch=1)[0]


def test_input_make_up():
    d = gen.docs(3, gen.STREAM_PAGES, 0, 200_000)
    assert abs(np.mean(d.domain < gen.N_HOT) - gen.HOT_SHARE) < 0.01
    assert abs(np.mean(d.malformed) - gen.MALFORMED_SHARE) < 0.002
    assert d.ts.min() >= gen.EPOCH_2026 and d.ts.max() < gen.EPOCH_2026 + gen.DAY_S
    dim = gen.dimension(3)
    assert len(dim) == len(gen.DOMAINS) - int(gen.N_COLD * gen.DIM_MISSING_SHARE)
    assert set(gen.DOMAINS[: gen.N_HOT]) <= set(dim["domain"])


def test_text_lines():
    d = gen.docs(1, gen.STREAM_PAGES, 0, 500)
    t = gen.pages_table(d).to_pydict()
    i = int(np.flatnonzero(~d.malformed & (d.level == 0))[0])
    sec = int(d.ts[i] - gen.EPOCH_2026)
    assert t["text"][i] == (
        f"ts=2026-01-01T{sec // 3600:02d}:{sec // 60 % 60:02d}:{sec % 60:02d}Z level=INFO "
        f"svc=svc-{d.svc[i]} code={d.code[i]} dur_us={d.dur_us[i]} "
        f'msg="{gen.VERBS[d.verb[i]]} /p/{d.path[i]}"'
    )
    assert t["url"][i] == f"https://{gen.DOMAINS[d.domain[i]]}/p/{d.path[i]}"
    j = int(np.flatnonzero(d.malformed)[0]) if d.malformed.any() else None
    if j is not None:
        assert "level=" not in t["text"][j] and "code=" not in t["text"][j]
