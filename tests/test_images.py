"""Image payload path: codecs, generator determinism, Spark pipeline,
per-row invariant (FIXTURES.md §7)."""

import numpy as np
import pytest

from osm2mp_spark.sources.images import (
    caption_for,
    decode,
    decode_bmp,
    decode_fake_jpeg,
    decode_png,
    encode_bmp,
    encode_fake_jpeg,
    encode_png,
    image_row,
    phash_for,
    pixels_for,
    position_for,
)


class TestCodecs:
    def _px(self, w=32, h=48):
        return pixels_for("img000000000007", w, h)

    def test_png_roundtrip_exact(self):
        px = self._px()
        assert np.array_equal(decode_png(encode_png(px)), px)

    def test_bmp_roundtrip_exact(self):
        px = self._px(33, 17)  # odd width exercises row padding
        assert np.array_equal(decode_bmp(encode_bmp(px)), px)

    def test_fake_jpeg_psnr_above_40(self):
        px = self._px(64, 48)
        got = decode_fake_jpeg(encode_fake_jpeg(px))
        mse = np.mean((got.astype(float) - px.astype(float)) ** 2)
        psnr = 10 * np.log10(255**2 / mse)
        assert psnr >= 40.0

    def test_decode_dispatch_rejects_wrong_magic(self):
        px = self._px()
        with pytest.raises(AssertionError):
            decode(encode_png(px), "bmp")


class TestGenerator:
    def test_row_deterministic(self):
        a, b = image_row(42), image_row(42)
        assert a == b

    def test_phash_matches_pixels(self):
        r = image_row(9)
        px = pixels_for(r["image_id"], r["w"], r["h"])
        assert r["phash"] == phash_for(px)

    def test_caption_format(self):
        assert caption_for(5).startswith("caption 5 ")
        assert len(caption_for(5).split()) == 7

    def test_positions_have_hotspot_skew(self):
        lons = np.array([position_for(i)[0] for i in range(2000)])
        lats = np.array([position_for(i)[1] for i in range(2000)])
        # ~20% of points within 2σ·2 of a hotspot center
        from osm2mp_spark.sources.images import HOTSPOTS

        near = np.zeros(2000, dtype=bool)
        for cx, cy in HOTSPOTS:
            near |= (np.abs(lons - cx) <= 1.0) & (np.abs(lats - cy) <= 1.0)
        frac = near.mean()
        assert 0.1 < frac < 0.3


class TestSparkImagePath:
    def test_generate_verify_features(self, spark):
        from osm2mp_spark.operators.images import extract_features, verify_images
        from osm2mp_spark.sources.images import generate_images_df

        df = generate_images_df(spark, 60, partitions=4)
        ver = verify_images(df).toPandas()
        assert len(ver) == 60
        assert ver.pixels_ok.all()
        assert ver.caption_ok.all()
        assert ver.phash_ok.all()
        assert (ver[ver.fmt == "jpeg"].psnr >= 40).all()

        feats = extract_features(df).toPandas()
        assert len(feats) == 60
        assert (feats.std_gray > 0).all()

    def test_resize(self, spark):
        from osm2mp_spark.operators.images import resize_images
        from osm2mp_spark.sources.images import generate_images_df, decode_png

        df = generate_images_df(spark, 9, partitions=2)
        out = resize_images(df, 16, 16).toPandas()
        assert len(out) == 9
        px = decode_png(bytes(out.iloc[0].out_bytes))
        assert px.shape == (16, 16, 3)

    def test_frame_sampling_rejects_non_video(self, spark):
        from osm2mp_spark.operators.images import sample_frames

        # images table has no video_id column — the contract is explicit
        df = spark.createDataFrame([("x", b"NOTAVID")], "video_id string, bytes binary")
        with pytest.raises(Exception, match="FVID|assert"):
            sample_frames(df).collect()

    def test_corrupt_bytes_surface_cleanly(self, spark):
        from osm2mp_spark.operators.images import verify_images
        from osm2mp_spark.sources.images import generate_images_df
        from pyspark.sql import functions as F

        df = generate_images_df(spark, 6, partitions=1).withColumn(
            "bytes", F.expr("CAST('garbage' AS BINARY)")
        )
        with pytest.raises(Exception):
            verify_images(df).collect()


class TestVideoFrames:
    def test_fvid_seek_matches_generator(self):
        import numpy as np

        from osm2mp_spark.sources.images import (
            encode_fvid,
            frame_pixels,
            fvid_frame,
            fvid_header,
        )

        data = encode_fvid("v1", 8, 6, 5)
        assert fvid_header(data) == (8, 6, 5)
        for f in (0, 2, 4):
            assert np.array_equal(fvid_frame(data, f), frame_pixels("v1", f, 8, 6))

    def test_sample_frames_spark(self, spark):
        from osm2mp_spark.operators.images import sample_frames
        from osm2mp_spark.sources.images import (
            decode_png,
            frame_pixels,
            generate_videos_df,
        )
        import numpy as np

        vids = generate_videos_df(spark, 4, frames_per_video=10, w=8, h=6)
        out = sample_frames(vids, every_n=4).toPandas()
        # 10 frames, every 4th → frames 0, 4, 8 per video
        assert sorted(out[out.video_id == "vid000000"].frame_no) == [0, 4, 8]
        assert len(out) == 4 * 3
        # PNG re-encode round-trips to the deterministic frame content
        row = out[(out.video_id == "vid000001") & (out.frame_no == 4)].iloc[0]
        px = decode_png(bytes(row.frame_png))
        assert np.array_equal(px, frame_pixels("vid000001", 4, 8, 6))
        assert row.mean_gray == px.astype(float).mean()

    def test_video_query_runs(self, spark):
        import __spark_entry__ as E

        out = E.queries()["video_frame_sample"](spark, "/root/testdata/sf0.001")
        pdf = out.toPandas()
        assert len(pdf) >= 8
        assert (pdf.n_sampled == 4).all()  # 24 frames / every 6 → 0,6,12,18
        assert (pdf.first_frame == 0).all() and (pdf.last_frame == 18).all()


class TestAudio:
    def test_wav_roundtrip_exact(self):
        from osm2mp_spark.sources.audio import (
            audio_samples,
            decode_wav,
            encode_wav,
        )

        x = audio_samples("a1", 4000)
        got, rate = decode_wav(encode_wav(x, 8000))
        assert rate == 8000
        assert np.array_equal(got, x)

    def test_wav_rejects_garbage(self):
        from osm2mp_spark.sources.audio import decode_wav

        with pytest.raises(AssertionError):
            decode_wav(b"NOTAWAV" + b"\x00" * 40)

    def test_spark_verify_features_resample(self, spark):
        from osm2mp_spark.operators.audio import (
            extract_audio_features,
            resample_audio,
            verify_audio,
        )
        from osm2mp_spark.sources.audio import (
            audio_samples,
            decode_wav,
            generate_audio_df,
        )

        clips = generate_audio_df(spark, 12, seconds=0.25, partitions=3)
        v = verify_audio(clips).toPandas()
        assert len(v) == 12 and v.samples_ok.all() and v.rate_ok.all()

        f = extract_audio_features(clips).toPandas()
        x = audio_samples("aud000003", 2000).astype(float)
        expected_rms = float(np.sqrt(np.mean(x * x)))
        got = f[f.audio_id == "aud000003"].iloc[0]
        assert got.rms == pytest.approx(expected_rms)
        assert 0.0 < got.zcr < 1.0
        assert got.duration_ms == pytest.approx(250.0)

        r = resample_audio(clips, factor=2).toPandas()
        row = r[r.audio_id == "aud000005"].iloc[0]
        assert row.out_rate == 4000 and row.out_n == 1000
        out, rate = decode_wav(bytes(row.out_bytes))
        assert np.array_equal(out, audio_samples("aud000005", 2000)[::2])

    def test_audio_queries_run(self, spark):
        import __spark_entry__ as E

        v = E.queries()["audio_verify"](spark, "/root/testdata/sf0.001").first()
        assert v.n == v.n_samples_ok == v.n_rate_ok > 0
        f = E.queries()["audio_features"](spark, "/root/testdata/sf0.001").toPandas()
        assert f.n_clips.sum() == v.n


class TestAudioSpectrogram:
    def test_dominant_band_tracks_tone(self, spark):
        """A pure tone lands its power in the frequency band containing it:
        rfft bin k covers k*rate/n_fft Hz; with rate=8000, n_fft=256 each of
        the 4 bands spans 1000 Hz — 200 Hz tone -> band 0, 3900 Hz -> band 3."""
        import pandas as pd

        from osm2mp_spark.operators.audio import spectrogram_features
        from osm2mp_spark.sources.audio import SAMPLE_RATE, encode_wav

        def tone(freq, n=4000):
            t = np.arange(n) / SAMPLE_RATE
            return np.round(20000 * np.sin(2 * np.pi * freq * t)).astype(np.int16)

        df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "audio_id": ["low", "high"],
                    "bytes": [encode_wav(tone(200.0)), encode_wav(tone(3900.0))],
                }
            )
        )
        out = spectrogram_features(df).toPandas().set_index("audio_id")
        assert out.loc["low", "dominant_band"] == 0
        assert out.loc["high", "dominant_band"] == 3
        # band energies are per-clip quantized bigints, strictly positive
        # in the tone band and dwarfing the others
        assert out.loc["low", "band_e0"] > 100 * out.loc["low", "band_e3"]
        assert out.loc["high", "band_e3"] > 100 * out.loc["high", "band_e0"]

    def test_frame_count(self, spark):
        import pandas as pd

        from osm2mp_spark.operators.audio import spectrogram_features
        from osm2mp_spark.sources.audio import encode_wav

        df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "audio_id": ["a"],
                    "bytes": [encode_wav(np.zeros(1000, dtype=np.int16))],
                }
            )
        )
        out = spectrogram_features(df).toPandas()
        # 1 + (1000 - 256) // 128 = 6 frames
        assert int(out.n_frames.iloc[0]) == 6


class TestPhashDedup:
    """Perceptual-hash near-dup detection (image_dhash / image_dedup_phash)."""

    def test_band_layout_covers_all_bits(self):
        from osm2mp_spark.operators.hamming import hamming_band_layout

        for k in (2, 6, 10):
            layout = hamming_band_layout(k)
            assert len(layout) == k + 1
            assert sum(w for _, w in layout) == 64
            # contiguous, non-overlapping
            off = 0
            for o, w in layout:
                assert o == off
                off += w

    def test_pigeonhole_lossless_for_threshold(self):
        """Any pair within Hamming <= k must share at least one band key —
        the property that makes the banded equi-join equal the all-pairs
        join. Fuzzed over random signatures and random <=k bit flips."""
        from osm2mp_spark.operators.hamming import hamming_band_layout

        k = 6
        layout = hamming_band_layout(k)
        rng = np.random.default_rng(42)

        def keys(sig):
            return [(sig >> o) & ((1 << w) - 1) for o, w in layout]

        for _ in range(500):
            a = int(rng.integers(0, 2**64, dtype=np.uint64))
            flips = rng.choice(64, size=int(rng.integers(0, k + 1)),
                               replace=False)
            b = a
            for f in flips:
                b ^= 1 << int(f)
            assert any(ka == kb for ka, kb in zip(keys(a), keys(b)))

    def test_multiprobe_lossless_vs_bruteforce(self, spark):
        """operators.hamming must EQUAL the brute-force all-pairs join under
        every layout and id rule, fuzzed over random signatures with
        planted variants at distances 0..8:
          - 64-bit multi-probe (h ≤ 7: 0 and 1 flips per band) and the
            classic fallback above 7;
          - 256-bit word-aligned bands, with planted flips straddling word
            and band boundaries;
          - non-negative 32- and 60-bit signatures (classic simhash bands);
        each under the ordered, directed and canonical rules, with
        duplicate (id, words) rows on the store side (a crash-window
        replay) and identical words under two ids."""
        import itertools
        import random

        from osm2mp_spark.operators.hamming import hamming_pairs

        rnd = random.Random(7)
        # bits → (thresholds, signed words); boundary bits of words and of
        # 16/32-bit bands, so planted flips straddle them
        cases = {64: ((0, 3, 4, 6, 7, 9), True),
                 256: ((0, 5, 7), True),
                 32: ((6,), False), 60: ((6,), False)}
        edges = [15, 16, 31, 32, 47, 48, 63, 64, 95, 96, 127, 128, 191, 192]

        def words_of(u, bits, signed):
            if not signed:
                return (u,)
            out = []
            for i in range(bits // 64):
                w = (u >> (64 * i)) & ((1 << 64) - 1)
                out.append(w - (1 << 64) if w >= (1 << 63) else w)
            return tuple(out)

        def ham(x, y):
            return sum(bin((a ^ b) & ((1 << 64) - 1)).count("1")
                       for a, b in zip(x, y))

        for bits, (thresholds, signed) in cases.items():
            words = tuple(f"w{i}" for i in range(max(1, bits // 64)))
            schema = "id string, " + ", ".join(f"{w} long" for w in words)
            rows, base = [], []
            for i in range(150):
                u = rnd.getrandbits(bits)
                base.append(u)
                rows.append((f"id{i:04d}", *words_of(u, bits, signed)))
            for j in range(60):
                src = rnd.randrange(150)
                u = base[src]
                near = [e for e in edges if e < bits]
                k = rnd.choice(range(9))
                pool = near if j % 2 and k <= len(near) else range(bits)
                for b in rnd.sample(pool, k):
                    u ^= 1 << b
                rows.append((f"id{src:04d}v{j}", *words_of(u, bits, signed)))
            rows.append(("twin", *rows[0][1:]))  # same words, second id
            sig = {r[0]: r[1:] for r in rows}
            new = [r for k, r in enumerate(rows) if k % 3 == 0]
            new_ids = {r[0] for r in new}
            df = spark.createDataFrame(rows, schema)
            dfn = spark.createDataFrame(new, schema)
            # the store holds the batch's own rows twice (replay)
            store = spark.createDataFrame(rows + new, schema)
            for h in thresholds:
                def close(x, y):
                    return x != y and ham(sig[x], sig[y]) <= h

                want = {
                    "ordered": {
                        (x, y, ham(sig[x], sig[y]))
                        for x, y in itertools.combinations(sorted(sig), 2)
                        if close(x, y)
                    },
                    "directed": {
                        (x, y, ham(sig[x], sig[y]))
                        for x in new_ids for y in sig if close(x, y)
                    },
                    "canonical": {
                        (min(x, y), max(x, y), ham(sig[x], sig[y]))
                        for x in new_ids for y in sig if close(x, y)
                    },
                }
                runs = {
                    "ordered": (store, None),
                    "directed": (dfn, df),
                    "canonical": (dfn, store),
                }
                for rule, (left, right) in runs.items():
                    got = hamming_pairs(
                        left, right, id_col="id", words=words, bits=bits,
                        max_hamming=h, rule=rule,
                    ).collect()
                    assert len(got) == len(set(got)), (bits, h, rule)
                    assert {tuple(r) for r in got} == want[rule], (
                        f"bits={bits} h={h} rule={rule}: "
                        f"{len(got)} vs {len(want[rule])}"
                    )
            if bits == 256:
                with pytest.raises(ValueError):
                    hamming_pairs(df, id_col="id", words=words, bits=256,
                                  max_hamming=8)

    def test_corpus_neardup_separation(self):
        """Planted near-dups sit within the threshold; unrelated pattern
        images sit far outside it (pure-python twin of the Spark kernel
        via single-row corpus entries)."""
        from osm2mp_spark.sources.images import phash_corpus_row

        def dhash(row):
            px = decode(bytes(row["bytes"]), row["fmt"])
            gray = px.astype(np.int64).sum(axis=2)
            h, w = gray.shape
            yb = (np.arange(9) * h) // 8
            xb = (np.arange(10) * w) // 9
            pref = np.zeros((h + 1, w + 1), dtype=np.int64)
            pref[1:, 1:] = gray.cumsum(0).cumsum(1)
            s = (pref[yb[1:, None], xb[None, 1:]]
                 - pref[yb[:-1, None], xb[None, 1:]]
                 - pref[yb[1:, None], xb[None, :-1]]
                 + pref[yb[:-1, None], xb[None, :-1]])
            cnt = (yb[1:] - yb[:-1])[:, None] * (xb[1:] - xb[:-1])[None, :]
            bits = (s[:, 1:] * cnt[:, :-1] > s[:, :-1] * cnt[:, 1:]).flatten()
            v = 0
            for b in bits:
                v = (v << 1) | int(b)
            return v

        sigs = {}
        for i in range(0, 21, 7):
            a = dhash(phash_corpus_row(i, dup=False))
            b = dhash(phash_corpus_row(i, dup=True))
            assert bin(a ^ b).count("1") <= 6, f"dup {i} too far"
            sigs[i] = a
        ids = list(sigs)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                d = bin(sigs[ids[i]] ^ sigs[ids[j]]).count("1")
                assert d > 6, f"unrelated {ids[i]}/{ids[j]} collide at {d}"

    def test_spark_pairs_exactly_planted(self, spark):
        """End-to-end: the banded join returns exactly the planted
        (original, originald) pairs, and the plan has no cartesian."""
        from osm2mp_spark.operators.images import (
            dhash_images,
            phash_hamming_pairs,
        )
        from osm2mp_spark.sources.images import generate_phash_corpus_df

        corpus = generate_phash_corpus_df(spark, 35, dup_every=7)
        pairs_df = phash_hamming_pairs(dhash_images(corpus), max_hamming=6)
        plan = pairs_df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        got = pairs_df.toPandas().sort_values("id_a").reset_index(drop=True)
        assert list(got.id_a) == [f"pimg{i:09d}" for i in range(0, 35, 7)]
        assert (got.id_b == got.id_a + "d").all()
        assert (got.hamming <= 6).all()

    def test_cluster_decision_planted(self, spark):
        """Keeper-per-component over a small corpus: every planted pair
        forms a 2-cluster keeping the original; everything else is a
        keep=True singleton."""
        import __spark_entry__  # noqa: F401  (registry import)
        from osm2mp_spark.operators.images import (
            dhash_images,
            phash_hamming_pairs,
        )
        from osm2mp_spark.queries.images_q import (
            _image_clusters,
            _unkey_clusters,
        )
        from osm2mp_spark.sources.images import generate_phash_corpus_df

        sigs = dhash_images(
            generate_phash_corpus_df(spark, 35, dup_every=7)
        ).localCheckpoint(eager=False)
        got = _unkey_clusters(_image_clusters(
            sigs, phash_hamming_pairs(sigs, max_hamming=6)
        )).withColumnRenamed("cluster_size", "n").toPandas()
        assert len(got) == 40  # 35 originals + 5 dups
        two = got[got.n == 2]
        assert len(two) == 10  # 5 clusters x 2 members
        keepers = two[two.keep]
        assert set(keepers.image_id) == {
            f"pimg{i:09d}" for i in range(0, 35, 7)
        }
        dropped = two[~two.keep]
        assert (dropped.image_id == dropped.cluster_id + "d").all()
        assert got[got.n == 1].keep.all()

    def test_ann_topk_finds_original_and_sibling(self, spark):
        """Every variant query's top-2 are its original and its sibling
        variant (both within the threshold); ranks are deterministic."""
        import __spark_entry__ as E

        got = (
            E.queries()["image_ann_topk"](spark, "/root/testdata/sf0.001")
            .toPandas()
        )
        # sf0.001: 150 originals, dups at idx%7==0 -> 22 pairs x 2 variants
        assert got.query_id.nunique() == 44
        assert (got.hamming <= 6).all()
        for qid, grp in got.groupby("query_id"):
            base = qid[:-1]
            assert set(grp.neighbor_id) <= {base, base + "d", base + "e"}
            assert base in set(grp.neighbor_id)  # the original always found


class TestCaptionLeg:
    """The image+caption pair-table caption column (input_hint shape) and
    its bytes-free twin generator."""

    def test_captions_match_full_corpus_exactly(self, spark):
        """generate_captions_df must emit EXACTLY the (image_id, caption)
        pairs the full corpus carries — same ids, same caption rule — or
        multimodal_dedup's cheap caption leg silently drifts from the
        table it claims to describe."""
        from osm2mp_spark.sources.images import (
            generate_captions_df,
            generate_phash_corpus_df,
        )

        full = {
            (r.image_id, r.caption)
            for r in generate_phash_corpus_df(spark, 40, variants=2)
            .select("image_id", "caption").collect()
        }
        light = {
            (r.image_id, r.caption)
            for r in generate_captions_df(spark, 40, variants=2).collect()
        }
        assert full == light and len(full) == 40 + 2 * 6

    def test_caption_regimes(self, spark):
        """'d' re-encodes keep the caption verbatim; 'e' variants drift."""
        from osm2mp_spark.sources.images import generate_captions_df

        caps = {
            r.image_id: r.caption
            for r in generate_captions_df(spark, 15, variants=2).collect()
        }
        for idx in (0, 7, 14):
            base = f"pimg{idx:09d}"
            assert caps[base + "d"] == caps[base]
            assert caps[base + "e"] == caps[base] + " alt"


class TestWideSignatures:
    """256-bit wide signature family (image_dhash_wide / image_dedup_wide /
    image_ann_topk_wide) — the at-scale Hamming configuration."""

    def test_wide_pigeonhole_lossless_to_7(self):
        """Any pair of 256-bit signatures within Hamming <= 7 shares at
        least one of the 8 word-aligned 32-bit band keys — fuzzed over
        random signatures and random <=7 flips spread across all 4 words."""
        rng = np.random.default_rng(7)

        def keys(words):
            out = []
            for w in words:
                u = int(w) & ((1 << 64) - 1)
                out += [u >> 32, u & 0xFFFFFFFF]
            return out

        for _ in range(500):
            a = [int(x) for x in rng.integers(0, 2**63, size=4)]
            b = list(a)
            for f in rng.choice(256, size=int(rng.integers(0, 8)),
                                replace=False):
                b[f // 64] ^= 1 << int(f % 64)
            assert any(ka == kb for ka, kb in zip(keys(a), keys(b)))

    def test_wide_signature_matches_per_geometry_formula(self):
        """Differential fuzz: the one-gather kernel equals the per-geometry
        prefix / block-sum / cross-multiplied compare formula word for
        word — random sizes in 1..130 (many below the 17-block grids, most
        not divisible by any grid), all-constant and all-255 images, and
        the three corpus shapes through every codec."""
        from osm2mp_spark.operators.images import (
            WIDE_GEOMETRIES,
            _block_sums_from_prefix,
            _compare_bits,
            _pack64,
            _prefix2d,
            wide_signature,
        )
        from osm2mp_spark.sources.images import (
            FMT_CHOICES, H_CHOICES, W_CHOICES, encode,
        )

        def reference(px):
            pref = _prefix2d(px.sum(axis=2, dtype=np.int64))
            out = []
            for rows_c, cols_c, axis in WIDE_GEOMETRIES:
                s, cnt = _block_sums_from_prefix(pref, rows_c, cols_c)
                out.append(_pack64(_compare_bits(s, cnt, axis)))
            return tuple(out)

        rng = np.random.default_rng(20261018)
        sizes = [(1, 1), (1, 130), (130, 1), (3, 7), (16, 16), (17, 17),
                 (8, 9), (130, 130)]
        sizes += [tuple(int(x) for x in rng.integers(1, 131, size=2))
                  for _ in range(400)]
        images = []
        for i, (h, w) in enumerate(sizes):
            if i % 8 == 0:
                px = np.full((h, w, 3), 255, np.uint8)
            elif i % 8 == 1:
                px = np.full((h, w, 3), int(rng.integers(0, 256)), np.uint8)
            else:
                px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            images.append(px)
        for h, w in zip(H_CHOICES, W_CHOICES):
            px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            images += [decode(encode(px, fmt), fmt) for fmt in FMT_CHOICES]
        for px in images:
            got = wide_signature(px)
            assert got == reference(px), px.shape
            assert all(type(x) is int for x in got)

    def test_wide_corpus_separation(self):
        """Planted dups within 7/256 bits; unrelated far outside (>= 64) —
        the margin that makes threshold tuning safe at scale."""
        from osm2mp_spark.operators.images import wide_signature
        from osm2mp_spark.sources.images import phash_corpus_row

        def sig(row):
            return wide_signature(decode(bytes(row["bytes"]), row["fmt"]))

        def ham(a, b):
            return sum(bin((x ^ y) & ((1 << 64) - 1)).count("1")
                       for x, y in zip(a, b))

        sigs = {}
        for i in range(0, 28, 7):
            a = sig(phash_corpus_row(i, dup=False))
            d = sig(phash_corpus_row(i, dup=True))
            assert ham(a, d) <= 7, f"dup {i} at {ham(a, d)}"
            sigs[i] = a
        ids = list(sigs)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                assert ham(sigs[ids[i]], sigs[ids[j]]) >= 64

    def test_spark_wide_pairs_exactly_planted(self, spark):
        """Banded wide join returns exactly the planted pairs, no
        cartesian, and agrees with the brute-force 4-word popcount join."""
        from osm2mp_spark.operators.images import (
            dhash_wide_images,
            wide_hamming_pairs,
        )
        from osm2mp_spark.sources.images import generate_phash_corpus_df

        sigs = dhash_wide_images(
            generate_phash_corpus_df(spark, 35, dup_every=7)
        ).localCheckpoint(eager=False)
        pairs_df = wide_hamming_pairs(sigs, max_hamming=7)
        plan = pairs_df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        got = pairs_df.toPandas().sort_values("id_a").reset_index(drop=True)
        assert list(got.id_a) == [f"pimg{i:09d}" for i in range(0, 35, 7)]
        assert (got.id_b == got.id_a + "d").all()
        # brute force over the collected signature table must agree exactly
        import itertools

        rows = sigs.collect()
        brute = set()
        for a, b in itertools.combinations(sorted(rows, key=lambda r: r.image_id), 2):
            d = sum(bin((getattr(a, w) ^ getattr(b, w)) & ((1 << 64) - 1)).count("1")
                    for w in ("h0", "h1", "h2", "h3"))
            if d <= 7:
                brute.add((a.image_id, b.image_id, d))
        assert set(map(tuple, got.itertuples(index=False))) == brute

    def test_wide_band_keys_word_aligned(self, spark):
        """wide_band_explode emits 8 rows per signature whose keys
        reassemble the original words (hi<<32|lo) — the extraction is
        lossless and stays in JVM codegen (no Python eval in the plan)."""
        from osm2mp_spark.operators.images import (
            dhash_wide_images,
            wide_band_explode,
        )
        from osm2mp_spark.sources.images import generate_phash_corpus_df

        sigs = dhash_wide_images(generate_phash_corpus_df(spark, 5))
        e = wide_band_explode(sigs)
        plan = e._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        pdf = e.toPandas()
        assert len(pdf) == 6 * 8  # 5 originals + the idx-0 planted dup
        for (img, word), grp in pdf.groupby(
            [pdf.image_id, pdf.band // 2]
        ):
            hi = int(grp[grp.band % 2 == 0].key.iloc[0])
            lo = int(grp[grp.band % 2 == 1].key.iloc[0])
            v = (hi << 32) | lo
            v -= (v & (1 << 63)) << 1
            assert v == int(grp[f"h{word}"].iloc[0])
        # the operator's single-column key is band·2^32 + key on every row,
        # the packing compacted stores already hold on disk, so stores
        # written before the operator existed stay joinable
        from osm2mp_spark.operators.hamming import hamming_bands, hamming_layout
        from osm2mp_spark.operators.images import WIDE_WORDS

        hb = hamming_bands(
            sigs, "image_id", WIDE_WORDS, hamming_layout(256, 7)
        ).toPandas()
        got = sorted(zip(hb.image_id, hb.bandkey))
        want = sorted(
            zip(pdf.image_id, pdf.band.astype("int64") * (1 << 32) + pdf.key)
        )
        assert got == want
        for r in hb.itertuples():
            band = int(r.bandkey) >> 32
            u = int(getattr(r, WIDE_WORDS[band // 2])) & ((1 << 64) - 1)
            half = u >> 32 if band % 2 == 0 else u & 0xFFFFFFFF
            assert int(r.bandkey) == (band << 32) + half

    def test_wide_clusters_match_narrow_decision(self, spark):
        """At small n the 64-bit and 256-bit cluster decisions agree
        exactly (same planted structure, independent signature spaces)."""
        import __spark_entry__ as E

        sf = "/root/testdata/sf0.001"
        narrow = E.queries()["image_dedup_clusters"](spark, sf).toPandas()
        wide = E.queries()["image_dedup_clusters_wide"](spark, sf).toPandas()
        a = narrow.sort_values("image_id").reset_index(drop=True)
        b = wide.sort_values("image_id").reset_index(drop=True)
        assert (a.image_id == b.image_id).all()
        assert (a.cluster_id == b.cluster_id).all()
        assert (a.keep == b.keep).all()


class TestFusedSignatureGenerator:
    """generate_phash_signatures_df generates, encodes, decodes and hashes
    in one mapInPandas. Its rows must equal the two-stage path's
    (dhash_wide_images over generate_phash_corpus_df) exactly — the codec
    round trip is kept, so the lossy codec's pixels are the ones hashed."""

    @pytest.mark.parametrize(
        "n,variants,partitions",
        [(23, 1, 1), (23, 1, 3), (30, 2, 1), (30, 2, 4)],
    )
    def test_matches_two_stage_path(self, spark, n, variants, partitions):
        from osm2mp_spark.operators.images import dhash_wide_images
        from osm2mp_spark.sources.images import (
            generate_phash_corpus_df,
            generate_phash_signatures_df,
        )

        assert n % 7  # a partial dup_every period at the end
        fused = generate_phash_signatures_df(
            spark, n, partitions=partitions, variants=variants
        )
        two_stage = dhash_wide_images(generate_phash_corpus_df(
            spark, n, partitions=partitions, variants=variants
        ))
        assert fused.schema == two_stage.schema
        got = sorted(tuple(r) for r in fused.collect())
        want = sorted(tuple(r) for r in two_stage.collect())
        assert got == want
        assert len(got) == n + variants * len(range(0, n, 7))
        # every codec is in play, the lossy one included
        assert {i % 3 for i in range(n)} == {0, 1, 2}

    def test_one_python_stage_no_bytes(self, spark):
        """One MapInPandas and no `bytes` attribute anywhere in the plan:
        the encoded images never leave the Python worker."""
        from osm2mp_spark.metrics import python_eval_counts
        from osm2mp_spark.sources.images import generate_phash_signatures_df

        df = generate_phash_signatures_df(spark, 10)
        counts = python_eval_counts(df)
        assert counts["MapInPandas"] == 1
        assert sum(counts.values()) == 1
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "bytes" not in plan
