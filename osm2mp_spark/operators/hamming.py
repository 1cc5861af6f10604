"""Banded Hamming join — the one operator behind every near-duplicate pair
set (simhash text dedup, 64-bit dHash and 256-bit wide image dedup, image
ANN top-k, and the streaming store join).

A signature is one or more int64 word columns. `hamming_layout(bits, h)`
cuts it into bands; `hamming_bands` explodes each signature into one row
per band key, packed as `bandkey = band·2^W + key` (W = the layout's key
bits) so a single long column carries the whole equi-join key;
`hamming_join` equi-joins two banded frames on it, applies the caller's id
rule, keeps pairs whose exact popcount is ≤ h and emits each
(id_a, id_b, hamming) once. Every candidate passes the exact popcount, so
the result EQUALS the all-pairs Hamming join whenever the banding is
lossless — which each layout is, by pigeonhole:

- **classic** (`hamming_band_layout`): h + 1 contiguous bands covering all
  bits. Two signatures ≤ h bits apart differ in at most h bands, so at
  least one band key is identical on both sides. Serves any threshold;
  the key width shrinks as h grows (32-bit h=6: widths 5,5,5,5,4,4,4;
  60-bit: 9,9,9,9,8,8,8).
- **word-aligned 8×32** (256-bit signatures, h ≤ 7): the classic argument
  over 8 bands, each the high or low half of one word — 2^32 keys per
  band keep buckets thin at any corpus size. h > 7 raises.
- **multi-probe 4×16** (64-bit signatures, h ≤ 7): 4 disjoint 16-bit
  bands. ≤ h differing bits over 4 bands leave some band with at most
  e = h // 4 ≤ 1 differing bits, so the PROBE side emits each band's key
  plus, when e = 1, its 16 single-bit flips; one of them equals the
  other side's exact key. 2^16 keys per band keep buckets ~n/65536 where
  the classic ~9-bit bands go bucket-quadratic.

Id rules (`rule=`):
- `ordered`: id_a < id_b — a self-join, each unordered pair once;
- `directed`: id_a ≠ id_b — ANN, (query, neighbor) in both directions;
- `canonical`: (least, greatest) of id_a ≠ id_b — a stream batch against
  a store that already holds it, where a pair is found from both sides.
Hamming distance is symmetric, so the popcount needs no canonicalized word
columns, and the distinct shuffles only the three output columns.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

log = logging.getLogger(__name__)

RULES = ("ordered", "directed", "canonical")


@dataclass(frozen=True)
class HammingLayout:
    """`bands[i] = (word, offset, width)`: band i's key is bits
    [offset, offset + width) of word column `word`. The probe side of a
    join also emits each key's single-bit flips when `flips` is 1.
    `key_bits` is W in `bandkey = band·2^W + key`."""

    kind: str
    bands: tuple[tuple[int, int, int], ...]
    flips: int
    key_bits: int

    def rows_per_signature(self, probe: bool = False) -> int:
        """Band rows one signature explodes into (on the probe side when
        `probe`)."""
        if probe and self.flips:
            return sum(1 + w for _, _, w in self.bands)
        return len(self.bands)

    def describe(self) -> str:
        return (
            f"{self.kind}: {len(self.bands)} bands, "
            f"{self.key_bits}-bit keys, "
            f"{self.rows_per_signature(True) // len(self.bands)} probes/band"
        )


def hamming_band_layout(max_hamming: int, bits: int = 64) -> list[tuple[int, int]]:
    """(offset, width) per band of the classic banding: `max_hamming + 1`
    contiguous bands covering all bits, the first `bits % bands` one bit
    wider."""
    nb = max_hamming + 1
    widths = [bits // nb + (1 if i < bits % nb else 0) for i in range(nb)]
    out, off = [], 0
    for wd in widths:
        out.append((off, wd))
        off += wd
    return out


def hamming_layout(bits: int, max_hamming: int) -> HammingLayout:
    """The banding every join over `bits`-bit signatures at threshold
    `max_hamming` uses (see the module docstring for why each is
    lossless)."""
    if bits == 256:
        if max_hamming > 7:
            raise ValueError("8-band pigeonhole is lossless only to Hamming 7")
        return HammingLayout(
            "word-aligned",
            tuple((i // 2, 32 * (1 - i % 2), 32) for i in range(8)),
            0, 32,
        )
    if bits > 64:
        raise ValueError(f"no banding for {bits}-bit signatures")
    if bits == 64 and max_hamming <= 7:
        return HammingLayout(
            "multi-probe", tuple((0, 16 * b, 16) for b in range(4)),
            max_hamming // 4, 16,
        )
    bands = hamming_band_layout(max_hamming, bits)
    return HammingLayout(
        "classic", tuple((0, off, w) for off, w in bands), 0,
        max(w for _, w in bands),
    )


def hamming_bands(
    sigs: DataFrame, id_col: str, words: tuple[str, ...] | list[str],
    layout: HammingLayout, probe: bool = False,
) -> DataFrame:
    """(id, words…) → (id, words…, bandkey): one row per band key, plus
    the single-bit flips of each key when `probe` and the layout probes."""
    keys = []
    for b, (w, off, width) in enumerate(layout.bands):
        key = f"(shiftrightunsigned({words[w]}, {off}) & {(1 << width) - 1})"
        flips = range(width) if probe and layout.flips else ()
        keys += [
            f"{b << layout.key_bits} + {k}"
            for k in [key, *(f"({key} ^ {1 << j})" for j in flips)]
        ]
    return sigs.select(
        id_col, *words,
        F.explode(F.expr(f"array({', '.join(keys)})")).alias("bandkey"),
    )


def hamming_join(
    left: DataFrame, right: DataFrame, id_col: str,
    words: tuple[str, ...] | list[str], layout: HammingLayout,
    max_hamming: int, rule: str = "ordered",
    broadcast_rows: int | None = None,
) -> DataFrame:
    """Banded `left` × banded `right` (both `hamming_bands` layouts of
    `layout`, the probe side on the left) → (id_a, id_b, hamming) under
    the id `rule`. `broadcast_rows`, an upper bound on `left`'s band
    rows, size-gates a broadcast of the left side."""
    if rule not in RULES:
        raise ValueError(f"rule must be one of {RULES}")
    log.info("hamming join: %s, rule=%s, max_hamming=%d",
             layout.describe(), rule, max_hamming)
    a = left.select(
        F.col(id_col).alias("id_a"),
        *[F.col(w).alias(f"a{i}") for i, w in enumerate(words)], "bandkey",
    )
    if broadcast_rows is not None:
        from ..plans.hints import maybe_broadcast

        a = maybe_broadcast(a, est_rows=broadcast_rows)
    b = right.select(
        F.col(id_col).alias("id_b"),
        *[F.col(w).alias(f"b{i}") for i, w in enumerate(words)], "bandkey",
    )
    cand = a.join(b, "bandkey")
    ida, idb = F.col("id_a"), F.col("id_b")
    if rule == "ordered":
        cand = cand.filter(ida < idb)
    else:
        cand = cand.filter(ida != idb)
        if rule == "canonical":
            ida, idb = F.least(ida, idb), F.greatest(ida, idb)
    ham = " + ".join(f"bit_count(a{i} ^ b{i})" for i in range(len(words)))
    return (
        cand.select(
            ida.alias("id_a"), idb.alias("id_b"),
            F.expr(f"CAST({ham} AS INT)").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()  # a close pair collides in several bands — emit once
    )


def hamming_pairs(
    left: DataFrame, right: DataFrame | None = None, *, id_col: str,
    words: tuple[str, ...] | list[str], bits: int, max_hamming: int,
    rule: str = "ordered", broadcast_left_sigs: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs between two signature frames (a self-join when
    `right` is None): `left` is banded as the probe side, `right` with
    exact keys. `broadcast_left_sigs`, an upper bound on `left`'s
    signatures, size-gates a broadcast of the left side's band rows."""
    layout = hamming_layout(bits, max_hamming)
    est = None
    if broadcast_left_sigs is not None:
        est = broadcast_left_sigs * layout.rows_per_signature(probe=True)
    return hamming_join(
        hamming_bands(left, id_col, words, layout, probe=True),
        hamming_bands(left if right is None else right, id_col, words, layout),
        id_col, words, layout, max_hamming, rule, broadcast_rows=est,
    )
