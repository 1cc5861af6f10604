"""Deterministic images fact table (BASELINE.json input_hint / FIXTURES.md §1):

    images(image_id string, bytes binary, w int, h int, fmt string,
           caption string, phash bigint)

Pixels are a seeded gradient + sha256(image_id)-derived noise, so every row
is reproducible anywhere. Formats:

- png  — real PNG (stdlib zlib; filter-0 scanlines, CRC'd chunks) — lossless
- bmp  — real 24-bit bottom-up BMP — lossless
- jpeg — **STUB CODEC**: the container ships no JPEG library (no PIL /
  imageio), so `jpeg` rows use a clearly-marked deterministic fake lossy
  codec (`FJPG` magic): pixels quantized to 64 levels/channel, decoded as
  mid-bucket values. This keeps the lossy-path plumbing (PSNR≥40dB check,
  distinct decode branch, smaller payload) real while the codec itself is
  swappable for a real JPEG encoder on a full cluster image.

Generation is DISTRIBUTED: `generate_images_df` maps a `spark.range(n)`
through `mapInPandas`, so at 10^12 scale rows are synthesized on executors,
never on the driver. The derived position is `(lon, lat) = G(idx)` from
sources.points, with 20% of rows drawn toward 5 Gaussian hotspots to create
the hot-cell skew the salted repartition must defuse (FIXTURES.md §1).
"""

from __future__ import annotations

import hashlib
import struct
import zlib

import numpy as np

W_CHOICES = (32, 64, 128)
H_CHOICES = (32, 48, 96)
FMT_CHOICES = ("png", "jpeg", "bmp")

HOTSPOTS = [(-150.0, -40.0), (-120.0, 50.0), (30.0, -40.0), (110.0, 30.0), (126.0, 9.0)]
HOTSPOT_SIGMA = 0.5
HOTSPOT_FRACTION = 0.2

IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long, lon double, lat double"
)

_WORDS = [
    "map", "tile", "river", "city", "road", "coast", "island", "peak",
    "bridge", "forest", "lake", "plain", "delta", "ridge", "bay", "cape",
]


def _rng_ints(image_id: str, n: int) -> np.ndarray:
    """Deterministic uint8 stream: ONE SHAKE-256 XOF call for the whole
    stream (the previous sha256(id || counter) loop made one Python-level
    hash call per 32 bytes — 2.6 ms per image, 60% of generation time; the
    XOF emits the n bytes in a single C call)."""
    return np.frombuffer(
        hashlib.shake_256(image_id.encode()).digest(n), dtype=np.uint8
    ).copy()


def pixels_for(image_id: str, w: int, h: int) -> np.ndarray:
    """(h, w, 3) uint8: horizontal+vertical gradient + seeded noise."""
    seed = _rng_ints(image_id, 3)
    gx = np.linspace(0, 255, w, dtype=np.float64)[None, :, None]
    gy = np.linspace(0, 255, h, dtype=np.float64)[:, None, None]
    base = (gx + gy) / 2.0 + seed[None, None, :].astype(np.float64)
    noise = _rng_ints(image_id + ":px", w * h * 3).reshape(h, w, 3)
    px = (base + noise.astype(np.float64) * 0.25) % 256.0
    return px.astype(np.uint8)


def caption_for(idx: int) -> str:
    h = hashlib.sha256(f"cap:{idx}".encode()).digest()
    words = " ".join(_WORDS[b % len(_WORDS)] for b in h[:5])
    return f"caption {idx} {words}"


def phash_for(pixels: np.ndarray) -> int:
    h = hashlib.sha256(pixels.tobytes()).digest()
    return struct.unpack(">q", h[:8])[0]


# --- codecs ------------------------------------------------------------------

def encode_png(pixels: np.ndarray) -> bytes:
    h, w, _ = pixels.shape
    # one vectorized scanline buffer (filter byte 0 + row bytes) — byte-
    # identical to the per-row join it replaced, ~an order of magnitude
    # less Python-loop overhead per image
    buf = np.empty((h, w * 3 + 1), dtype=np.uint8)
    buf[:, 0] = 0
    buf[:, 1:] = pixels.reshape(h, w * 3)
    raw = buf.tobytes()

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> np.ndarray:
    assert data[:8] == b"\x89PNG\r\n\x1a\n", "not a PNG"
    pos = 8
    w = h = None
    idat = b""
    while pos < len(data):
        (ln,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + ln]
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack(">IIBB", body[:10])
            assert depth == 8 and ctype == 2, "only 8-bit RGB supported"
        elif tag == b"IDAT":
            idat += body
        pos += 12 + ln
    raw = zlib.decompress(idat)
    stride = w * 3 + 1
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride)
    assert not arr[:, 0].any(), "only filter-0 scanlines supported"
    return np.ascontiguousarray(arr[:, 1:]).reshape(h, w, 3)


def encode_bmp(pixels: np.ndarray) -> bytes:
    h, w, _ = pixels.shape
    pad = (4 - (w * 3) % 4) % 4
    # vectorized bottom-up BGR row buffer with padding columns — byte-
    # identical to the per-row join it replaced
    buf = np.zeros((h, w * 3 + pad), dtype=np.uint8)
    buf[:, : w * 3] = pixels[::-1, :, ::-1].reshape(h, w * 3)
    rows = buf.tobytes()
    size = 54 + len(rows)
    header = (
        b"BM"
        + struct.pack("<IHHI", size, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(rows), 2835, 2835, 0, 0)
    )
    return header + rows


def decode_bmp(data: bytes) -> np.ndarray:
    assert data[:2] == b"BM", "not a BMP"
    (offset,) = struct.unpack("<I", data[10:14])
    w, h = struct.unpack("<ii", data[18:26])
    pad = (4 - (w * 3) % 4) % 4
    stride = w * 3 + pad
    arr = np.frombuffer(
        data, dtype=np.uint8, count=h * stride, offset=offset
    ).reshape(h, stride)
    # strip padding, un-flip rows (bottom-up) and channels (BGR) — value-
    # identical to the per-row loop it replaced
    return np.ascontiguousarray(
        arr[:, : w * 3].reshape(h, w, 3)[::-1, :, ::-1]
    )


def encode_fake_jpeg(pixels: np.ndarray) -> bytes:
    """STUB lossy codec (see module docstring): 64 levels per channel."""
    h, w, _ = pixels.shape
    q = (pixels >> 2).astype(np.uint8)  # 0..63
    return b"FJPG" + struct.pack("<HH", w, h) + q.tobytes()


def decode_fake_jpeg(data: bytes) -> np.ndarray:
    assert data[:4] == b"FJPG", "not a fake-jpeg payload"
    w, h = struct.unpack("<HH", data[4:8])
    q = np.frombuffer(data[8:], dtype=np.uint8).reshape(h, w, 3)
    return ((q << 2) | 2).astype(np.uint8)  # mid-bucket reconstruction


def encode(pixels: np.ndarray, fmt: str) -> bytes:
    return {"png": encode_png, "bmp": encode_bmp, "jpeg": encode_fake_jpeg}[fmt](pixels)


def decode(data: bytes, fmt: str) -> np.ndarray:
    return {"png": decode_png, "bmp": decode_bmp, "jpeg": decode_fake_jpeg}[fmt](data)


# --- row + DataFrame generation ---------------------------------------------

def image_row(idx: int) -> dict:
    image_id = f"img{idx:012d}"
    w = W_CHOICES[idx % 3]
    h = H_CHOICES[idx % 3]
    fmt = FMT_CHOICES[idx % 3]
    px = pixels_for(image_id, w, h)
    lon, lat = position_for(idx)
    return {
        "image_id": image_id,
        "bytes": encode(px, fmt),
        "w": w,
        "h": h,
        "fmt": fmt,
        "caption": caption_for(idx),
        "phash": phash_for(px),
        "lon": lon,
        "lat": lat,
    }


def position_for(idx: int) -> tuple[float, float]:
    """Derived position with hotspot skew (FIXTURES.md §1): 20% of rows pull
    toward one of 5 Gaussian city hotspots; the rest use the uniform exact
    generator of sources.points."""
    from .points import derived_points_np

    lon, lat = derived_points_np(np.array([idx]))
    u = _rng_ints(f"pos:{idx}", 3)
    if u[0] < 256 * HOTSPOT_FRACTION:
        cx, cy = HOTSPOTS[u[1] % len(HOTSPOTS)]
        # Box-Muller-free deterministic offset: scaled centered bytes
        dx = (float(u[1]) - 127.5) / 127.5 * 2.0 * HOTSPOT_SIGMA
        dy = (float(u[2]) - 127.5) / 127.5 * 2.0 * HOTSPOT_SIGMA
        return cx + dx, cy + dy
    return float(lon[0]), float(lat[0])


def _gen_partitions(spark, n: int, rows_per_task: int = 1200) -> int:
    """Scale-adaptive generator parallelism (guide §2: derive from input
    size, never a constant tuned to one scale): target ~rows_per_task
    images per task, floored at one task wave and capped at 4 waves.
    One core-count-sized wave of big tasks holds every task's full
    pixel+bytes+Arrow working set in memory simultaneously — measured
    2.3× SLOWER at 171k images on local[32] (26.8 s vs ~11 s for the
    gen+hash stage) than smaller multi-wave tasks; smaller tasks also ride
    out co-tenant bursts (75 partitions swung 13–24 s where 128 held
    11.8 s in the same interleaved session). Partitioning does not affect
    row content (rows are pure functions of idx)."""
    p = spark.sparkContext.defaultParallelism
    return max(p, min(4 * p, max(1, n // rows_per_task)))


def generate_images_df(spark, n: int, partitions: int | None = None):
    """Distributed deterministic generation: executors synthesize their own
    row ranges (the 10^12-scale pattern — no driver materialization)."""
    import pandas as pd

    from ..shipping import ensure_shipped

    ensure_shipped(spark)
    rng = spark.range(0, n, 1, partitions or _gen_partitions(spark, n))

    def gen(it):
        for pdf in it:
            rows = [image_row(int(i)) for i in pdf["id"]]
            yield pd.DataFrame(rows)

    return rng.mapInPandas(gen, schema=IMAGES_SCHEMA)


# --- FVID: deterministic raw-frame video container ----------------------------
# b"FVID" + <HHH>(w, h, n_frames) + n_frames * (w*h*3 raw uint8 RGB).
# Like FJPG this is the sandbox stand-in for a real codec (none ships
# here), but the CONTAINER mechanics are real: frames sit at computable
# offsets, so frame sampling seeks without decoding the rest.

FVID_MAGIC = b"FVID"
_FVID_HDR = struct.calcsize("<HHH")


def frame_pixels(video_id: str, frame_no: int, w: int, h: int) -> np.ndarray:
    """Deterministic frame content: per-frame shifted gradient + noise."""
    px = pixels_for(f"{video_id}/f{frame_no}", w, h)
    # temporal signal: brightness ramps with frame_no so motion statistics
    # (mean over time) are testable
    return ((px.astype(np.int32) + frame_no * 3) % 256).astype(np.uint8)


def encode_fvid(video_id: str, w: int, h: int, n_frames: int) -> bytes:
    body = b"".join(
        frame_pixels(video_id, i, w, h).tobytes() for i in range(n_frames)
    )
    return FVID_MAGIC + struct.pack("<HHH", w, h, n_frames) + body


def fvid_header(data: bytes) -> tuple[int, int, int]:
    assert data[:4] == FVID_MAGIC, "not an FVID payload"
    return struct.unpack("<HHH", data[4 : 4 + _FVID_HDR])


def fvid_frame(data: bytes, frame_no: int) -> np.ndarray:
    """Seek-extract ONE frame without touching the others."""
    w, h, n = fvid_header(data)
    if not 0 <= frame_no < n:
        raise IndexError(frame_no)
    sz = w * h * 3
    off = 4 + _FVID_HDR + frame_no * sz
    return np.frombuffer(data[off : off + sz], dtype=np.uint8).reshape(h, w, 3)


VIDEOS_SCHEMA = "video_id string, bytes binary, w int, h int, n_frames int"


def generate_videos_df(spark, n: int, frames_per_video: int = 24,
                       w: int = 24, h: int = 16, partitions: int | None = None):
    """Executor-side deterministic video table (same shape as the image
    generator: ids drive content, no data crosses the driver)."""
    import pandas as pd

    from ..shipping import ensure_shipped

    ensure_shipped(spark)
    base = spark.range(n).repartition(partitions or 8)

    def gen(it):
        for pdf in it:
            rows = []
            for idx in pdf["id"]:
                vid = f"vid{int(idx):06d}"
                rows.append(
                    (vid, encode_fvid(vid, w, h, frames_per_video), w, h,
                     frames_per_video)
                )
            yield pd.DataFrame(
                rows, columns=["video_id", "bytes", "w", "h", "n_frames"]
            )

    return base.mapInPandas(gen, schema=VIDEOS_SCHEMA)


# --- perceptual-hash dedup corpus ---------------------------------------------
# The gradient images above all share one global gradient, so their pooled
# difference-hashes would collide (realistic for near-identical photos, wrong
# for a dedup FIXTURE, which needs a discriminative corpus). The dedup corpus
# instead uses per-image block patterns: an 8x9 cell grid of two gray levels
# drawn from the image_id's XOF stream, upscaled to full resolution, plus the
# usual seeded noise. Pooled dHash bits then track the (random per image)
# pattern -> unrelated images sit ~32 bits apart, while a near-duplicate
# (same pattern+noise, sparse +3 pixel perturbation, re-encoded in a
# DIFFERENT codec) stays within a few bits.

PHASH_CELLS = (8, 9)  # rows x cols — matches the dHash pooling grid


def pattern_pixels_for(image_id: str, w: int, h: int) -> np.ndarray:
    """(h, w, 3) uint8: per-image random 8x9 two-level block pattern + noise.
    Levels 20/180 keep every value in [20, 243.75] — no clipping, so the
    sparse +3 near-dup perturbation can never wrap."""
    rows_c, cols_c = PHASH_CELLS
    bits = _rng_ints(image_id + ":pat", rows_c * cols_c) & 1
    grid = np.where(bits.reshape(rows_c, cols_c) == 1, 180.0, 20.0)
    cy = (np.arange(h) * rows_c) // h
    cx = (np.arange(w) * cols_c) // w
    base = grid[np.ix_(cy, cx)][:, :, None]
    noise = _rng_ints(image_id + ":px", w * h * 3).reshape(h, w, 3)
    return (base + noise.astype(np.float64) * 0.25).astype(np.uint8)


_DUP_VARIANTS = (
    # (id suffix, perturbation stride, perturbation delta, fmt rotation)
    ("d", 97, 3, 1),
    ("e", 89, 5, 2),  # only emitted when variants >= 2 (ANN fixtures)
)


def _base_pixels(idx: int) -> np.ndarray:
    """Pattern + noise of original `idx`, before any near-dup perturbation."""
    return pattern_pixels_for(
        f"pimg{idx:09d}", W_CHOICES[idx % 3], H_CHOICES[idx % 3]
    )


def _corpus_variants(idx: int, dup_every: int, variants: int) -> list:
    """(dup, variant) of every corpus row generated from original `idx`, in
    emission order: the original, then its near-duplicates."""
    dups = [(True, v) for v in range(variants)] if idx % dup_every == 0 else []
    return [(False, 0)] + dups


def _corpus_pixels(
    idx: int, dup: bool, variant: int = 0, base_px: np.ndarray | None = None
) -> tuple[str, str, np.ndarray]:
    """(image_id, fmt, pixels) of one corpus row — see phash_corpus_row.
    `base_px` lets the batch generators synthesize the base pattern ONCE
    per idx and share it across the original + its dup variants (each
    variant perturbs a COPY) — same rows, one pixel synthesis instead of
    1 + variants."""
    base_id = f"pimg{idx:09d}"
    px = _base_pixels(idx) if base_px is None else base_px
    if dup:
        suffix, stride, delta, rot = _DUP_VARIANTS[variant]
        px = px.copy()
        flat = px.reshape(-1)
        flat[::stride] += delta
        return base_id + suffix, FMT_CHOICES[(idx + rot) % 3], px
    return base_id, FMT_CHOICES[idx % 3], px


def phash_corpus_row(
    idx: int, dup: bool, variant: int = 0, _base_px: np.ndarray | None = None
) -> dict:
    """One corpus row. `dup=True` emits near-duplicate `variant` of original
    `idx`: identical pattern AND noise (both derive from the ORIGINAL id), a
    sparse additive perturbation, and a rotated codec — so the pair crosses
    a lossless/lossy codec boundary whenever possible. All perturbed values
    stay ≤ 248 (no uint8 wrap).

    Captions follow the image+caption pair table shape (BASELINE
    input_hint): variant 'd' keeps the original's caption verbatim (a pure
    re-encode — same caption), variant 'e' drifts it (the meme/crop case:
    near-dup pixels, altered text) — so joint image×caption dedup policies
    have both regimes planted."""
    image_id, fmt, px = _corpus_pixels(idx, dup, variant, _base_px)
    return {
        "image_id": image_id,
        "bytes": encode(px, fmt),
        "w": W_CHOICES[idx % 3],
        "h": H_CHOICES[idx % 3],
        "fmt": fmt,
        "caption": phash_corpus_caption(idx, dup, variant),
    }


def phash_corpus_caption(idx: int, dup: bool = False, variant: int = 0) -> str:
    """Caption rule shared by the full corpus generator and the bytes-free
    caption generator — one source of truth so the two can never drift."""
    c = caption_for(idx)
    if dup and _DUP_VARIANTS[variant][0] == "e":
        c += " alt"
    return c


def generate_captions_df(spark, n: int, dup_every: int = 7,
                         partitions: int | None = None, variants: int = 1):
    """(image_id, caption) for the SAME ids generate_phash_corpus_df emits,
    WITHOUT synthesizing pixels or encoding bytes — the cheap caption leg
    for joint image×caption queries (generating megabytes of image payload
    just to drop every column but the caption would be wasted work AND a
    second full decode pass)."""
    import pandas as pd

    from ..shipping import ensure_shipped

    ensure_shipped(spark)
    rng = spark.range(
        0, n, 1, partitions or spark.sparkContext.defaultParallelism
    )

    def gen(it):
        for pdf in it:
            rows = [
                (
                    f"pimg{idx:09d}" + (_DUP_VARIANTS[v][0] if dup else ""),
                    phash_corpus_caption(idx, dup, v),
                )
                for idx in map(int, pdf["id"])
                for dup, v in _corpus_variants(idx, dup_every, variants)
            ]
            yield pd.DataFrame(rows, columns=["image_id", "caption"])

    return rng.mapInPandas(gen, schema="image_id string, caption string")


PHASH_CORPUS_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, caption string"
)


def generate_phash_corpus_df(spark, n: int, dup_every: int = 7,
                             partitions: int | None = None,
                             variants: int = 1):
    """Distributed deterministic dedup corpus: n originals plus `variants`
    near-duplicates of every `dup_every`-th one (executor-side synthesis,
    same 10^12-scale shape as generate_images_df). variants=1 is the dedup
    fixture; variants=2 the ANN top-k fixture (each dup has its original
    AND a sibling within the Hamming threshold)."""
    import pandas as pd

    from ..shipping import ensure_shipped

    ensure_shipped(spark)
    rng = spark.range(0, n, 1, partitions or _gen_partitions(spark, n))

    def gen(it):
        for pdf in it:
            rows = []
            for idx in map(int, pdf["id"]):
                base_px = _base_pixels(idx)
                rows.extend(
                    phash_corpus_row(idx, dup, v, _base_px=base_px)
                    for dup, v in _corpus_variants(idx, dup_every, variants)
                )
            yield pd.DataFrame(rows)

    return rng.mapInPandas(gen, schema=PHASH_CORPUS_SCHEMA)


def generate_phash_signatures_df(spark, n: int, dup_every: int = 7,
                                 partitions: int | None = None,
                                 variants: int = 1):
    """The 256-bit wide signatures (image_id, h0..h3) of exactly the corpus
    generate_phash_corpus_df emits, in ONE mapInPandas: each row is
    synthesized, encoded in its codec, decoded again and hashed in-process,
    and only the signature words leave the Python worker. Equal row for
    row to `dhash_wide_images(generate_phash_corpus_df(...))`: the codec
    round trip is kept (the lossy codec changes pixels), so the words are
    those of the bytes the two-stage path would have shipped.

    Why fused: the two-stage path runs two Python evaluations per task and
    moves every encoded image through Arrow between them (36 MB for 2.3k
    images), where a signature row is ~45 bytes. Removing that
    boundary between chained UDFs is the CIDR 2022 "Accelerating Python
    UDFs in Vectorized Query Execution" move. Queries that read pixels or
    bytes keep the bytes-emitting generator."""
    import pandas as pd

    from ..operators.images import DHASH_WIDE_SCHEMA, WIDE_WORDS, wide_signature
    from ..shipping import ensure_shipped

    ensure_shipped(spark)
    rng = spark.range(0, n, 1, partitions or _gen_partitions(spark, n))

    def gen(it):
        for pdf in it:
            rows = []
            for idx in map(int, pdf["id"]):
                base_px = _base_pixels(idx)
                for dup, v in _corpus_variants(idx, dup_every, variants):
                    image_id, fmt, px = _corpus_pixels(idx, dup, v, base_px)
                    px = decode(encode(px, fmt), fmt)
                    rows.append((image_id, *wide_signature(px)))
            yield pd.DataFrame(rows, columns=["image_id", *WIDE_WORDS])

    return rng.mapInPandas(gen, schema=DHASH_WIDE_SCHEMA)
