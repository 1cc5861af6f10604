"""Multimodal (image) operators — Arrow-batched mapInPandas plumbing.

The spatial stages of the engine must never ship `bytes` through Python
(SURVEY §7.3 risk 5): geometry work selects payload columns away and
re-joins on image_id. These operators are the *payload* path: decode,
verify (the per-row invariant of BASELINE.json input_hint), resize, and
feature extraction — each a vectorized batch kernel inside mapInPandas with
a real schema, so the Spark-side shape (column pruning, batch sizes,
partition counts) is production-true even where a codec is stubbed
(see sources.images: jpeg is a clearly-marked deterministic fake codec).

Video frame-sampling (`sample_frames`) is a real FVID seek-sampler: the
container format carries a frame index, only the sampled frames are decoded
(seek, never full-scan), and each sampled frame is re-encoded as a real PNG.
Only the underlying *codec* is the documented container stand-in
(sources.images FJPG/FVID — no image/video libs ship in this sandbox).
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..sources.images import caption_for, decode, phash_for, pixels_for
from .hamming import hamming_bands, hamming_layout, hamming_pairs

VERIFY_SCHEMA = (
    "image_id string, fmt string, pixels_ok boolean, psnr double, "
    "caption_ok boolean, phash_ok boolean"
)

FEATURE_SCHEMA = (
    "image_id string, mean_r double, mean_g double, mean_b double, "
    "std_gray double, dhash long"
)

RESIZE_SCHEMA = "image_id string, out_w int, out_h int, out_bytes binary"


def _psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)


def verify_images(df: DataFrame, psnr_min: float = 40.0) -> DataFrame:
    """Per-row payload invariant (input_hint): decode bytes → allclose vs the
    generator's pixels (exact for png/bmp, PSNR ≥ psnr_min for lossy),
    caption exact equality, phash recompute match."""

    def kernel(it):
        for pdf in it:
            rows = []
            for r in pdf.itertuples():
                idx = int(r.image_id[3:])
                want = pixels_for(r.image_id, r.w, r.h)
                got = decode(bytes(r.bytes), r.fmt)
                if r.fmt in ("png", "bmp"):
                    ok = bool(np.array_equal(got, want))
                    ps = float("inf") if ok else _psnr(got, want)
                else:
                    ps = _psnr(got, want)
                    ok = ps >= psnr_min
                rows.append(
                    (
                        r.image_id,
                        r.fmt,
                        ok,
                        ps if np.isfinite(ps) else 99.0,
                        r.caption == caption_for(idx),
                        int(r.phash) == phash_for(want),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "image_id", "fmt", "pixels_ok", "psnr", "caption_ok", "phash_ok",
                ],
            )

    from ..shipping import ensure_shipped

    ensure_shipped(df.sparkSession)
    cols = df.select("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    return cols.mapInPandas(kernel, schema=VERIFY_SCHEMA)


def extract_features(df: DataFrame, carry: list[str] | None = None) -> DataFrame:
    """Per-channel means, grayscale std, and an 8×8 difference hash — the
    embedding-ish features downstream dedup/ANN stages consume.

    `carry`: extra input columns passed through unchanged (e.g. lon/lat) so
    a downstream spatial stage can run on THIS output instead of re-deriving
    a second branch of the image lineage — branching an expensive generation/
    decode DAG executes it once per branch."""
    carry = list(carry or [])

    def kernel(it):
        for pdf in it:
            rows = []
            for r in pdf.itertuples():
                px = decode(bytes(r.bytes), r.fmt).astype(np.float64)
                gray = px.mean(axis=2)
                # 8x8 dhash: downsample to 8x9 grid, compare horizontal pairs
                h, w = gray.shape
                ys = (np.arange(8) * h) // 8
                xs = (np.arange(9) * w) // 9
                g = gray[np.ix_(ys, xs)]
                bits = (g[:, 1:] > g[:, :-1]).flatten()
                dh = 0
                for b in bits:
                    dh = (dh << 1) | int(b)
                dh -= (dh & (1 << 63)) << 1  # to signed int64
                rows.append(
                    (
                        r.image_id,
                        float(px[:, :, 0].mean()),
                        float(px[:, :, 1].mean()),
                        float(px[:, :, 2].mean()),
                        float(gray.std()),
                        dh,
                    )
                    + tuple(getattr(r, c) for c in carry)
                )
            yield pd.DataFrame(
                rows,
                columns=["image_id", "mean_r", "mean_g", "mean_b", "std_gray",
                         "dhash", *carry],
            )

    from ..shipping import ensure_shipped

    ensure_shipped(df.sparkSession)
    schema = FEATURE_SCHEMA
    if carry:
        carried = df.select(*carry).schema
        schema += ", " + ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in carried.fields
        )
    return df.select("image_id", "bytes", "fmt", *carry).mapInPandas(
        kernel, schema=schema
    )


def resize_images(df: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize, re-encoded as PNG (lossless output side)."""
    from ..sources.images import encode_png

    def kernel(it):
        for pdf in it:
            rows = []
            for r in pdf.itertuples():
                px = decode(bytes(r.bytes), r.fmt)
                h, w, _ = px.shape
                ys = (np.arange(out_h) * h) // out_h
                xs = (np.arange(out_w) * w) // out_w
                out = px[np.ix_(ys, xs)]
                rows.append((r.image_id, out_w, out_h, encode_png(out)))
            yield pd.DataFrame(
                rows, columns=["image_id", "out_w", "out_h", "out_bytes"]
            )

    from ..shipping import ensure_shipped

    ensure_shipped(df.sparkSession)
    return df.select("image_id", "bytes", "fmt").mapInPandas(
        kernel, schema=RESIZE_SCHEMA
    )


FRAME_SCHEMA = (
    "video_id string, frame_no int, w int, h int, mean_gray double, "
    "frame_png binary"
)


def sample_frames(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame sampling over the FVID container (the sandbox stand-in
    for a real codec — none ships here; swap `fvid_header`/`fvid_frame`
    for a PyAV/ffmpeg seek at deployment, the Spark plumbing is identical).

    Input (video_id, bytes, ...); mapInPandas kernel reads each
    container's header and SEEK-extracts every `every_n`-th frame — the
    untouched frames' bytes are never decoded. One row per sampled frame
    with the per-frame mean and a real PNG re-encode. Rows are independent
    per video → zero shuffle."""
    import pandas as pd

    from ..shipping import ensure_shipped
    from ..sources.images import encode_png, fvid_frame, fvid_header

    ensure_shipped(df.sparkSession)

    def kernel(it):
        for pdf in it:
            rows = []
            for r in pdf.itertuples():
                data = bytes(r.bytes)
                w, h, n = fvid_header(data)
                for f in range(0, n, every_n):
                    px = fvid_frame(data, f)
                    rows.append(
                        (r.video_id, f, w, h,
                         float(px.astype(np.float64).mean()),
                         encode_png(px))
                    )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=["video_id", "frame_no", "w", "h", "mean_gray",
                             "frame_png"],
                )

    return df.select("video_id", "bytes").mapInPandas(kernel, schema=FRAME_SCHEMA)


# --- perceptual-hash dedup ----------------------------------------------------

DHASH_SCHEMA = "image_id string, dhash long"


def dhash_images(df: DataFrame) -> DataFrame:
    """Pooled 64-bit difference hash over decoded pixels — the real
    perceptual hash behind the input_hint's `phash` column (the fact-table
    generator's sha-based stand-in has no near-dup structure).

    Exact integer arithmetic end-to-end so the hash is bit-stable at any
    parallelism: per-block gray SUMS via a 2-D prefix sum, adjacent-column
    comparison by cross-multiplication (blocks differ in pixel count when
    w % 9 or h % 8 != 0 — comparing raw sums would bias toward wider
    blocks; sum_r * cnt_l > sum_l * cnt_r is the exact mean comparison)."""

    def kernel(it):
        for pdf in it:
            rows = []
            for r in pdf.itertuples():
                px = decode(bytes(r.bytes), r.fmt)
                # r+g+b, exact — single-pass accumulate (no int64 copy of px)
                gray = px.sum(axis=2, dtype=np.int64)
                s, cnt = _block_sums(gray, 8, 9)
                rows.append((r.image_id, _pack64(_compare_bits(s, cnt, 1))))
            yield pd.DataFrame(rows, columns=["image_id", "dhash"])

    from ..shipping import ensure_shipped

    ensure_shipped(df.sparkSession)
    return df.select("image_id", "bytes", "fmt").mapInPandas(
        kernel, schema=DHASH_SCHEMA
    )


def _prefix2d(gray: np.ndarray) -> np.ndarray:
    """2-D inclusive prefix sum with a zero border — computed ONCE per
    image and shared by every pooling geometry (the grid only selects
    entries from it)."""
    h, w = gray.shape
    pref = np.zeros((h + 1, w + 1), dtype=np.int64)
    np.cumsum(np.cumsum(gray, axis=0), axis=1, out=pref[1:, 1:])
    return pref


def _block_sums_from_prefix(pref: np.ndarray, rows_c: int, cols_c: int):
    """(rows_c x cols_c) exact block SUMS + per-block pixel counts from a
    shared prefix sum (blocks differ in size when the image dims don't
    divide evenly)."""
    h, w = pref.shape[0] - 1, pref.shape[1] - 1
    yb = (np.arange(rows_c + 1) * h) // rows_c
    xb = (np.arange(cols_c + 1) * w) // cols_c
    s = (
        pref[yb[1:, None], xb[None, 1:]]
        - pref[yb[:-1, None], xb[None, 1:]]
        - pref[yb[1:, None], xb[None, :-1]]
        + pref[yb[:-1, None], xb[None, :-1]]
    )
    cnt = (yb[1:] - yb[:-1])[:, None] * (xb[1:] - xb[:-1])[None, :]
    return s, cnt


def _block_sums(gray: np.ndarray, rows_c: int, cols_c: int):
    """Exact-integer block pooling of one grid (kept for the single-grid
    callers/tests; wide_signature shares one prefix across its 4 grids)."""
    return _block_sums_from_prefix(_prefix2d(gray), rows_c, cols_c)


def _compare_bits(s: np.ndarray, cnt: np.ndarray, axis: int) -> np.ndarray:
    """Adjacent-block exact mean comparison along `axis` (0 = vertical,
    1 = horizontal) by cross-multiplication — no float division ever."""
    if axis == 1:
        return (s[:, 1:] * cnt[:, :-1] > s[:, :-1] * cnt[:, 1:]).flatten()
    return (s[1:, :] * cnt[:-1, :] > s[:-1, :] * cnt[1:, :]).flatten()


def _pack64(bits: np.ndarray) -> int:
    """64 bools → signed int64, MSB-first (dhash_images' packing) — via
    packbits, bit-identical to the shift loop it replaced."""
    return int.from_bytes(
        np.packbits(np.asarray(bits, dtype=np.uint8)).tobytes(),
        "big", signed=True,
    )


# 4 independent 64-bit pooling geometries — (rows, cols, compare-axis),
# each yielding exactly 64 bits. Concatenated they form the 256-bit WIDE
# signature whose word-aligned 32-bit bands keep Hamming banding lossless
# up to distance 7 with 2^32 buckets per band (VERDICT r03: 64-bit sigs cap
# lossless bands at ~9 bits → ~512 buckets → bucket-quadratic at 1e9+ sigs).
WIDE_GEOMETRIES = (
    (8, 9, 1),    # classic horizontal dHash
    (9, 8, 0),    # vertical twin
    (4, 17, 1),   # wide-row horizontal (4×16)
    (17, 4, 0),   # tall-column vertical (16×4)
)

DHASH_WIDE_SCHEMA = "image_id string, h0 long, h1 long, h2 long, h3 long"
WIDE_WORDS = ("h0", "h1", "h2", "h3")
WIDE_BITS = 64 * len(WIDE_WORDS)


@functools.lru_cache(maxsize=256)
def _wide_plan(h: int, w: int):
    """The per-(h, w) half of wide_signature, built once per image shape:
    for each of the WIDE_BITS compare pairs (row 0 = the later block of
    the pair, row 1 = the earlier; bit order = WIDE_GEOMETRIES order, then
    _compare_bits' row-major order), the flat indices of its blocks' four
    corners into the (h+1)×(w+1) prefix sum, and its blocks' pixel counts.
    Arrays are read-only: the cache hands the same ones to every call."""
    corners, counts = [], []
    for rows_c, cols_c, axis in WIDE_GEOMETRIES:
        yb = (np.arange(rows_c + 1) * h) // rows_c
        xb = (np.arange(cols_c + 1) * w) // cols_c
        y0, x0 = np.meshgrid(yb[:-1], xb[:-1], indexing="ij")
        y1, x1 = np.meshgrid(yb[1:], xb[1:], indexing="ij")
        # per block: the corners of P[y1,x1] - P[y0,x1] - P[y1,x0] + P[y0,x0],
        # then its pixel count
        blk = np.stack([y1 * (w + 1) + x1, y0 * (w + 1) + x1,
                        y1 * (w + 1) + x0, y0 * (w + 1) + x0,
                        (y1 - y0) * (x1 - x0)])
        n = blk.shape[axis + 1]
        later = blk.take(np.arange(1, n), axis=axis + 1).reshape(5, -1)
        earlier = blk.take(np.arange(n - 1), axis=axis + 1).reshape(5, -1)
        corners.append(np.stack([later[:4], earlier[:4]]))
        counts.append(np.stack([later[4], earlier[4]]))
    corners = np.concatenate(corners, axis=2)
    counts = np.concatenate(counts, axis=1).astype(np.int64)
    corners.setflags(write=False)
    counts.setflags(write=False)
    return corners, counts


def wide_signature(px: np.ndarray) -> tuple[int, int, int, int]:
    """256-bit perceptual signature of one decoded image: 4 packed words,
    one per WIDE_GEOMETRIES entry. Exact integer arithmetic throughout —
    bit-stable at any parallelism (same contract as dhash_images): the two
    blocks of every compare pair, over all four geometries, are summed
    from one shared prefix in one gather, and each pair compares exact
    means by cross-multiplication."""
    h, w, channels = px.shape
    gray = px[:, :, 0].astype(np.int64)
    for c in range(1, channels):
        gray += px[:, :, c]
    pref = np.zeros((h + 1, w + 1), dtype=np.int64)
    np.cumsum(np.cumsum(gray, axis=0, out=gray), axis=1, out=pref[1:, 1:])
    corners, cnt = _wide_plan(h, w)
    v = pref.ravel()[corners]
    s = v[:, 0] - v[:, 1] - v[:, 2] + v[:, 3]
    bits = s[0] * cnt[1] > s[1] * cnt[0]
    return tuple(np.frombuffer(np.packbits(bits).tobytes(), ">i8").tolist())


def dhash_wide_images(df: DataFrame) -> DataFrame:
    """(image_id, bytes, fmt, ...) → 256-bit wide signatures as 4 int64
    words. One mapInPandas pass; bytes never shuffle. Measured on the dedup
    corpus: planted cross-codec near-dups land at Hamming ≤ 5 over the 256
    bits, unrelated pairs ≥ 96 (mean ~128) — an order of magnitude wider
    margin than the 64-bit signature's 0-2 vs 27-44."""

    def kernel(it):
        for pdf in it:
            rows = []
            for r in pdf.itertuples():
                px = decode(bytes(r.bytes), r.fmt)
                rows.append((r.image_id, *wide_signature(px)))
            yield pd.DataFrame(rows, columns=["image_id", *WIDE_WORDS])

    from ..shipping import ensure_shipped

    ensure_shipped(df.sparkSession)
    return df.select("image_id", "bytes", "fmt").mapInPandas(
        kernel, schema=DHASH_WIDE_SCHEMA
    )


def wide_band_explode(sigs: DataFrame) -> DataFrame:
    """(image_id, h0..h3) → 8 word-aligned 32-bit band rows
    (image_id, h0..h3, band, key): the (band, key) view of the operator's
    `bandkey = band·2^32 + key` (operators.hamming). Each band key has 2^32
    distinct values, so per-band bucket population stays ~n/4.3e9."""
    layout = hamming_layout(WIDE_BITS, 7)
    return hamming_bands(sigs, "image_id", WIDE_WORDS, layout).select(
        "image_id", *WIDE_WORDS,
        F.shiftright("bandkey", layout.key_bits).cast("int").alias("band"),
        F.col("bandkey").bitwiseAND((1 << layout.key_bits) - 1).alias("key"),
    )


def wide_hamming_pairs(sigs: DataFrame, max_hamming: int = 7) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, hamming) over 256-bit wide
    signatures — the at-scale configuration of the image dedup family.
    Lossless for max_hamming ≤ 7; above it raises."""
    return hamming_pairs(sigs, id_col="image_id", words=WIDE_WORDS,
                         bits=WIDE_BITS, max_hamming=max_hamming)


def phash_hamming_pairs(sigs: DataFrame, max_hamming: int = 6) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, hamming) over 64-bit perceptual
    hashes: multi-probe 4×16-bit banding for max_hamming ≤ 7, classic
    max_hamming + 1 bands above. Output EQUALS the all-pairs Hamming join
    the DuckDB oracle runs."""
    return hamming_pairs(sigs, id_col="image_id", words=("dhash",), bits=64,
                         max_hamming=max_hamming)
