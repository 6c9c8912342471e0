"""Perceptual image hashing (dHash) + hamming-blocked near-dup pairs.

The image-side analog of SimHash text dedup: re-encoded, resized, or
slightly-retouched copies of an image survive exact byte dedup
(``dedup_exact`` on the payload hash) but collapse under a perceptual
hash.  dHash (difference hash) downsamples the grayscale image to an
8x9 grid of block averages and emits one bit per horizontally-adjacent
comparison — 64 bits whose hamming distance tracks visual similarity.

Everything is INTEGER arithmetic so the hash is engine-exact and
deterministic across platforms:

- grayscale  = (299*R + 587*G + 114*B) div 1000   (ITU-R 601 weights,
  integer form; single-channel images use the channel directly, alpha
  is ignored)
- block (i, j) of an HxW image spans rows [i*H div 8, max((i+1)*H
  div 8, i*H div 8 + 1)) and the analogous 9-way column split — the
  max() keeps blocks non-empty when the source is smaller than the
  grid (tiny thumbnails), where the scheme degrades to nearest-
  neighbor sampling
- bit(i, j)  = blocksum(i,j) * count(i,j+1) > blocksum(i,j+1)
  * count(i,j)   (cross-multiplied integer average comparison — no
  float division anywhere)

The 64 bits are stored as four 16-bit chunk columns ``d0..d3`` (two
grid rows each) rather than one BIGINT: no sign-bit trap, and the
chunks ARE the pigeonhole blocking key — hamming(a, b) <= 3 implies
at least one of the 4 chunks is identical (same lemma as
``dedup.simhash_near_pairs``), so near-dup candidates come from a
chunk equi-join, never an all-pairs scan.

Scale shape: one Arrow-batched decode pass (binary in, 7 small
columns out), then pure JVM joins — explode 4 chunk entries/image,
hash equi-join, distinct, ``bit_count(a ^ b)`` verify.  Decode cost
dominates and is embarrassingly parallel; candidate volume is driven
by chunk collisions (16-bit space), not corpus size squared.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GRID_H, GRID_W = 8, 9  # 8 rows x 8 horizontal comparisons = 64 bits


def dhash_chunks(img: np.ndarray) -> tuple[int, int, int, int]:
    """The four 16-bit dHash chunks of a decoded HxW[xC] uint8 image.
    Pure integers end-to-end; see module docstring for the formulas."""
    h, w = img.shape[:2]
    if h < 1 or w < 1:
        raise ValueError("image must be at least 1x1")
    if h >= GRID_H and w >= GRID_W:
        c = dhash_chunks_frames(img[None])
        return (int(c[0, 0]), int(c[0, 1]), int(c[0, 2]), int(c[0, 3]))
    return _dhash_chunks_tiny(img)


def _dhash_chunks_tiny(img: np.ndarray) -> tuple[int, int, int, int]:
    """Reference per-pixel form, kept for images smaller than the grid
    (nearest-neighbor degradation: blocks overlap, so the vectorized
    contiguous-segment sums below do not apply)."""
    a = img.astype(np.int64)
    if a.ndim == 3:
        if a.shape[2] == 1:
            a = a[:, :, 0]
        else:
            a = (299 * a[:, :, 0] + 587 * a[:, :, 1] + 114 * a[:, :, 2]) // 1000
    h, w = a.shape
    r0 = [(i * h) // GRID_H for i in range(GRID_H)]
    r1 = [max(((i + 1) * h) // GRID_H, r0[i] + 1) for i in range(GRID_H)]
    c0 = [(j * w) // GRID_W for j in range(GRID_W)]
    c1 = [max(((j + 1) * w) // GRID_W, c0[j] + 1) for j in range(GRID_W)]
    s = [
        [int(a[r0[i]:r1[i], c0[j]:c1[j]].sum()) for j in range(GRID_W)]
        for i in range(GRID_H)
    ]
    n = [
        [(r1[i] - r0[i]) * (c1[j] - c0[j]) for j in range(GRID_W)]
        for i in range(GRID_H)
    ]
    chunks = [0, 0, 0, 0]
    for i in range(GRID_H):
        for j in range(GRID_W - 1):
            if s[i][j] * n[i][j + 1] > s[i][j + 1] * n[i][j]:
                chunks[i // 2] |= 1 << ((i % 2) * 8 + j)
    return tuple(chunks)


# bit weight of comparison (i, j): chunk i//2, position (i%2)*8 + j
_BIT_WEIGHTS = 1 << (
    (np.arange(GRID_H)[:, None] % 2) * 8 + np.arange(GRID_W - 1)[None, :]
)


def dhash_chunks_frames(frames: np.ndarray) -> np.ndarray:
    """Vectorized ``dhash_chunks`` over a (F, H, W[, C]) uint8 stack ->
    (F, 4) int64 chunk matrix, bit-exact with the per-pixel form (r6).

    When H >= 8 and W >= 9 the grid rows/columns are contiguous
    half-open segments, so the 72 per-block slice sums collapse into two
    ``np.add.reduceat`` calls over the whole stack and the 64 bit
    comparisons into one broadcast — the per-frame Python loop (72 slice
    sums + 64 scalar comparisons per frame) was the dominant cost of the
    video dHash path.  All arithmetic stays int64 (same grayscale
    division, same cross-multiplied average comparison)."""
    a = frames.astype(np.int64)
    if a.ndim == 4:
        if a.shape[3] == 1:
            a = a[..., 0]
        else:
            a = (299 * a[..., 0] + 587 * a[..., 1] + 114 * a[..., 2]) // 1000
    f, h, w = a.shape
    if h < GRID_H or w < GRID_W:
        return np.array(
            [_dhash_chunks_tiny(frames[k]) for k in range(f)], dtype=np.int64
        )
    r0 = [(i * h) // GRID_H for i in range(GRID_H)]
    c0 = [(j * w) // GRID_W for j in range(GRID_W)]
    r1 = [r0[i + 1] for i in range(GRID_H - 1)] + [h]
    c1 = [c0[j + 1] for j in range(GRID_W - 1)] + [w]
    s = np.add.reduceat(np.add.reduceat(a, r0, axis=1), c0, axis=2)  # (F,8,9)
    n = np.array(
        [
            [(r1[i] - r0[i]) * (c1[j] - c0[j]) for j in range(GRID_W)]
            for i in range(GRID_H)
        ],
        dtype=np.int64,
    )
    bits = s[:, :, :-1] * n[None, :, 1:] > s[:, :, 1:] * n[None, :, :-1]
    per_row = (bits * _BIT_WEIGHTS[None]).sum(axis=2)  # (F, 8)
    return per_row.reshape(f, 4, 2).sum(axis=2)


def image_dhash(media: DataFrame) -> DataFrame:
    """Decode + dHash for every image row of a media table
    (``media_id``, ``mime``, ``payload``): (media_id, width, height,
    d0..d3).  BMP and PNG decode losslessly (hash is exact); JPEG
    hashes are decoder-faithful but carry DCT reconstruction noise —
    fine for near-dup use, not for cross-decoder byte determinism.
    Non-image rows are dropped."""
    from ..functions.media_codec import decode_bmp, decode_jpeg, decode_png

    decoders = {
        "image/bmp": decode_bmp,
        "image/png": decode_png,
        "image/jpeg": decode_jpeg,
    }

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, mime, payload in zip(
                pdf["media_id"], pdf["mime"], pdf["payload"]
            ):
                dec = decoders.get(mime)
                if dec is None:
                    continue
                img = dec(bytes(payload))
                h, w = img.shape[:2]
                d0, d1, d2, d3 = dhash_chunks(img)
                rows.append((int(mid), w, h, d0, d1, d2, d3))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "width", "height", "d0", "d1", "d2", "d3",
                ],
            )

    return media.select("media_id", "mime", "payload").mapInPandas(
        extract,
        schema=(
            "media_id long, width long, height long,"
            " d0 int, d1 int, d2 int, d3 int"
        ),
    )


def video_frame_dhash(media: DataFrame) -> DataFrame:
    """Per-frame dHash for every RAWV video row: (media_id, frame_idx,
    n_frames, d0..d3).  Same integer hash as :func:`image_dhash`, one
    row per frame — the sequence signature that survives re-encoding
    and container churn where the payload hash does not."""
    from ..functions.media_codec import decode_rawv

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, mime, payload in zip(
                pdf["media_id"], pdf["mime"], pdf["payload"]
            ):
                if mime != "video/rawv":
                    continue
                frames, _fps = decode_rawv(bytes(payload))
                nf = frames.shape[0]
                chunks = dhash_chunks_frames(frames)  # (nf, 4), one shot
                for fi in range(nf):
                    d0, d1, d2, d3 = (int(x) for x in chunks[fi])
                    rows.append((int(mid), fi, nf, d0, d1, d2, d3))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "frame_idx", "n_frames",
                    "d0", "d1", "d2", "d3",
                ],
            )

    return media.select("media_id", "mime", "payload").mapInPandas(
        extract,
        schema=(
            "media_id long, frame_idx long, n_frames long,"
            " d0 int, d1 int, d2 int, d3 int"
        ),
    )


def video_near_dup_pairs(
    frame_hashes: DataFrame,
    max_hamming: int = 3,
    min_match_ppm: int = 500_000,
) -> DataFrame:
    """Video pairs whose ALIGNED frames match perceptually: (id_a,
    id_b, matched_frames, total_frames, match_ppm), where a frame
    position matches when its dHash hamming <= ``max_hamming``,
    ``total_frames = greatest(n_a, n_b)`` and ``match_ppm =
    matched * 1e6 div total`` must reach ``min_match_ppm``.

    Blocking: a qualifying pair has at least one matching aligned
    frame, and that frame pair shares a chunk (the radius-3
    pigeonhole), so candidates come from a (frame_idx, chunk) equi-
    join — never all video pairs."""
    if not 0 <= max_hamming <= 3:
        raise ValueError(
            "max_hamming must be in [0, 3] — 4 chunks pigeonhole-cover"
            " at most 3 flips"
        )
    if not 0 < min_match_ppm <= 1_000_000:
        raise ValueError("min_match_ppm must be in (0, 1e6]")
    from ..caching import maybe_persist

    # persisted: the hash table feeds the chunk self-join (twice) and
    # both verify sides — without this the upstream decode+dhash
    # (an Arrow-batched Python stage) re-executes once per reference
    # (r6: was ~4x the decode cost per run)
    h = maybe_persist(
        frame_hashes.select(
            "media_id", "frame_idx", "n_frames", "d0", "d1", "d2", "d3"
        ),
    )
    entries = h.select(
        "media_id", "frame_idx",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"), F.col(f"d{t}").alias("v")
                    )
                    for t in range(4)
                ]
            )
        ).alias("e"),
    ).select("media_id", "frame_idx", "e.t", "e.v")
    cand = (
        entries.alias("x")
        .join(entries.alias("y"), ["frame_idx", "t", "v"])
        .where(F.col("x.media_id") < F.col("y.media_id"))
        .select(
            F.col("x.media_id").alias("id_a"),
            F.col("y.media_id").alias("id_b"),
        )
        .distinct()
    )
    ha = h.select(
        F.col("media_id").alias("id_a"), "frame_idx",
        F.col("n_frames").alias("n_a"),
        *[F.col(f"d{t}").alias(f"a{t}") for t in range(4)],
    )
    hb = h.select(
        F.col("media_id").alias("id_b"), "frame_idx",
        F.col("n_frames").alias("n_b"),
        *[F.col(f"d{t}").alias(f"b{t}") for t in range(4)],
    )
    dist = sum(F.bit_count(F.expr(f"a{t} ^ b{t}")) for t in range(4))
    return (
        cand.join(ha, "id_a")
        .join(hb, ["id_b", "frame_idx"])
        .groupBy("id_a", "id_b")
        .agg(
            F.sum(
                F.when(dist <= max_hamming, 1).otherwise(0)
            ).alias("matched_frames"),
            F.greatest(F.first("n_a"), F.first("n_b")).alias(
                "total_frames"
            ),
        )
        .select(
            "id_a", "id_b", "matched_frames", "total_frames",
            F.expr("(matched_frames * 1000000) div total_frames").alias(
                "match_ppm"
            ),
        )
        .where(F.col("match_ppm") >= min_match_ppm)
    )


def image_near_dup_pairs(
    hashes: DataFrame, max_hamming: int = 3
) -> DataFrame:
    """Unordered image pairs with dHash hamming distance <=
    ``max_hamming``: (id_a, id_b, hamming).  Pigeonhole chunk blocking
    is complete only up to 3 bit flips with 4 chunks, so larger radii
    are rejected rather than silently under-recalled."""
    if not 0 <= max_hamming <= 3:
        raise ValueError(
            "max_hamming must be in [0, 3] — 4 chunks pigeonhole-cover"
            " at most 3 flips"
        )
    from ..caching import maybe_persist

    # persisted for the same reason as video_near_dup_pairs: four plan
    # references would re-run the image decode+dhash stage each
    h = maybe_persist(hashes.select("media_id", "d0", "d1", "d2", "d3"))
    entries = h.select(
        "media_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"), F.col(f"d{t}").alias("v")
                    )
                    for t in range(4)
                ]
            )
        ).alias("e"),
    ).select("media_id", "e.t", "e.v")
    cand = (
        entries.alias("x")
        .join(entries.alias("y"), ["t", "v"])
        .where(F.col("x.media_id") < F.col("y.media_id"))
        .select(
            F.col("x.media_id").alias("id_a"),
            F.col("y.media_id").alias("id_b"),
        )
        .distinct()
    )
    ha = h.select(
        F.col("media_id").alias("id_a"),
        *[F.col(f"d{t}").alias(f"a{t}") for t in range(4)],
    )
    hb = h.select(
        F.col("media_id").alias("id_b"),
        *[F.col(f"d{t}").alias(f"b{t}") for t in range(4)],
    )
    dist = sum(
        F.bit_count(F.expr(f"a{t} ^ b{t}")) for t in range(4)
    )
    return (
        cand.join(ha, "id_a")
        .join(hb, "id_b")
        .select("id_a", "id_b", dist.cast("long").alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )
