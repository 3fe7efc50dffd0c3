"""Media perceptual-hash near-dup: fingerprint kernel pins (invariance /
separation), banding exactness vs brute force, plan shape, fixture
round-trips. The decode → fingerprint → banded-pair path must behave like
the text SimHash family: collide on re-encodes/perturbations/gain changes,
separate distinct content, and NEVER run all-pairs."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from opendosm_parquet_to_sqlite_spark.operators import mediadedup as M
from opendosm_parquet_to_sqlite_spark.operators.neardup import hamming_band_pairs


def _ham(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


# --- image kernel -------------------------------------------------------------


def test_png_encode_decode_roundtrip_pixel_exact():
    g = M._base_gray(3, 24)
    decoded = M.gray_decode(M.encode_png_gray(g))
    assert decoded.shape == (24, 24)
    assert np.array_equal(decoded, np.clip(g, 0, 255).astype(np.uint8).astype(float))


def test_dhash_identical_and_affine_invariant():
    g = M.gray_decode(M.encode_png_gray(M._base_gray(5, 24)))
    h0 = M.dhash64(g)
    assert M.dhash64(g.copy()) == h0
    # any strictly-increasing pixel map preserves every gradient sign
    assert M.dhash64(g * 1.7 + 23.0) == h0
    assert M.dhash64(np.sqrt(g + 1.0)) == h0


def test_dhash_perturbation_small_distinct_large():
    base = M.gray_decode(M.encode_png_gray(M._base_gray(11, 24)))
    h0 = M.dhash64(base)
    pert = base.copy()
    for k in range(4):
        d = hashlib.sha256(b"p%d" % k).digest()
        pert[d[0] % 24, d[1] % 24] += (d[2] % 7) - 3
    assert _ham(h0, M.dhash64(pert)) <= 6
    other = M.gray_decode(M.encode_png_gray(M._base_gray(12, 24)))
    assert _ham(h0, M.dhash64(other)) >= 12


def test_dhash_reencode_invariant_across_compression_levels():
    g = M._base_gray(7, 20)
    h = [M.dhash64(M.gray_decode(M.encode_png_gray(g, level=lv))) for lv in (0, 6, 9)]
    assert h[0] == h[1] == h[2]


def test_dhash_resize_area_mean_exactness():
    # a pure horizontal ramp sets EVERY dx bit (strictly decreasing cells)
    ramp = np.tile(np.arange(32, 0, -1, dtype=float), (8, 1))
    assert M.dhash64(ramp) == M._to_signed64((1 << 64) - 1)
    # constant images: bin means differ only by float rounding, so the
    # sign pattern is arbitrary — deterministic per input, but NOT stable
    # under affine maps (ties re-resolve by scaled rounding noise). Real
    # images have gradients, where affine invariance holds (tested above).
    flat = np.full((17, 31), 99.0)
    assert M.dhash64(flat) == M.dhash64(flat.copy())
    # area-mean is exact on aligned dims: 16 rows / 8 bins = 2 rows each
    g = M._base_gray(4, 16)
    t = M._bin_mean_axis0(g, 8)
    assert np.allclose(t, g.reshape(8, 2, 16).mean(axis=1))


def test_fake_gray_deterministic_and_shape():
    a = M._fake_gray(b"not an image")
    assert a.shape == (16, 16)
    assert np.array_equal(a, M._fake_gray(b"not an image"))
    assert not np.array_equal(a, M._fake_gray(b"other bytes"))


# --- audio kernel -------------------------------------------------------------


def _dense_signal(b: int, n: int = 2000, rate: int = 8000):
    seed = hashlib.sha256(b"wav-base-%d" % b).digest()
    ext = (
        seed
        + hashlib.sha256(seed).digest()
        + hashlib.sha256(seed + b"2").digest()
        + hashlib.sha256(seed + b"3").digest()
    )
    t = np.arange(n) / rate
    x = np.zeros(n)
    for k in range(40):
        f = 60 + int.from_bytes(ext[3 * k : 3 * k + 2], "big") % (rate // 2 - 120)
        x += (0.2 + ext[3 * k + 2] / 255.0) * np.sin(2 * np.pi * f * t + k)
    return x / np.max(np.abs(x))


def test_wav_roundtrip_and_gain_invariance():
    x = _dense_signal(1)
    rate, pcm = M.wav_pcm(M.encode_wav_pcm16(x))
    assert rate == 8000 and len(pcm) == len(x)
    assert np.max(np.abs(pcm - x)) < 1e-3  # 16-bit quantization bound
    fps = []
    for gain in (0.2, 0.5, 1.0):
        r, p = M.wav_pcm(M.encode_wav_pcm16(x * gain))
        fps.append(M.audio_fp64(p, r))
    # same content at any gain stays within the banding threshold
    assert max(_ham(fps[0], f) for f in fps[1:]) <= 6


def test_audio_fp_separates_content():
    f1 = M.audio_fp64(_dense_signal(2), 8000)
    f2 = M.audio_fp64(_dense_signal(3), 8000)
    assert _ham(f1, f2) >= 12


def test_audio_fp_short_clip_and_fake_fallback():
    # shorter than one FFT frame: zero-padded, still deterministic
    assert M.audio_fp64(np.ones(10), 8000) == M.audio_fp64(np.ones(10), 8000)
    r, p = M.audio_decode(b"definitely not audio")
    assert r == 8000 and len(p) == 2048
    r2, p2 = M.audio_decode(b"definitely not audio")
    assert np.array_equal(p, p2)


def test_wav_pcm_rejects_non_wav_and_8bit_stereo_path():
    with pytest.raises(ValueError):
        M.wav_pcm(b"not a wav at all, but long enough to pass the length gate....")
    # 8-bit stereo canonical WAV: header arithmetic + mono averaging
    data = bytes([128, 130, 126, 140] * 50)  # L,R interleaved
    payload = (
        b"RIFF" + (36 + len(data)).to_bytes(4, "little") + b"WAVE"
        + b"fmt " + (16).to_bytes(4, "little") + (1).to_bytes(2, "little")
        + (2).to_bytes(2, "little") + (8000).to_bytes(4, "little")
        + (16000).to_bytes(4, "little") + (2).to_bytes(2, "little")
        + (8).to_bytes(2, "little")
        + b"data" + len(data).to_bytes(4, "little") + data
    )
    rate, pcm = M.wav_pcm(payload)
    assert rate == 8000 and len(pcm) == len(data) // 2
    assert abs(pcm[0] - (0.0 + 2 / 128.0) / 2) < 1e-9  # (128,130) averaged


# --- banding exactness vs brute force ----------------------------------------


def test_hamming_band_pairs_exact_vs_bruteforce(spark):
    rng = np.random.default_rng(42)
    fps = [
        M._to_signed64(int(v))
        for v in rng.integers(0, 1 << 64, size=30, dtype=np.uint64)
    ]
    # plant near-dups: ids 20..29 are ids 0..9 with <=3 flipped bits
    for i in range(10):
        v = fps[i] & ((1 << 64) - 1)
        for b in rng.choice(64, size=int(rng.integers(0, 4)), replace=False):
            v ^= 1 << int(b)
        fps[20 + i] = M._to_signed64(int(v))
    df = spark.createDataFrame(
        [(i, f) for i, f in enumerate(fps)], "doc_id long, phash long"
    )
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in hamming_band_pairs(
            df, "doc_id", "phash", max_hamming=3, bits=64
        ).collect()
    }
    expected = {
        (i, j, _ham(fps[i], fps[j]))
        for i in range(30)
        for j in range(i + 1, 30)
        if _ham(fps[i], fps[j]) <= 3
    }
    assert got == expected  # pigeonhole banding is EXACT, not approximate


def test_hamming_band_pairs_zero_distance_single_chunk(spark):
    # max_hamming=0 -> one chunk spanning all 64 bits (no mask, see the
    # 64-bit note): reduces to exact fingerprint equality
    df = spark.createDataFrame(
        [(0, -5), (1, -5), (2, 7), (3, 7), (4, 9)], "doc_id long, phash long"
    )
    got = {
        (r.id_a, r.id_b)
        for r in hamming_band_pairs(
            df, "doc_id", "phash", max_hamming=0, bits=64
        ).collect()
    }
    assert got == {(0, 1), (2, 3)}


# --- distributed pipelines ----------------------------------------------------


def test_image_pairs_collision_structure(spark):
    ids = spark.range(40).withColumnRenamed("id", "doc_id")
    png = M.synth_png_corpus(ids, "doc_id", n_bases=8)
    pairs = M.image_phash_pairs(png, "payload", "doc_id", max_hamming=6).collect()
    same = {(p.id_a, p.id_b) for p in pairs if p.id_a % 8 == p.id_b % 8}
    cross = [(p.id_a, p.id_b) for p in pairs if p.id_a % 8 != p.id_b % 8]
    expected_same = {
        (a, b) for a in range(40) for b in range(a + 1, 40) if a % 8 == b % 8
    }
    assert same == expected_same  # every perturbed sibling pair found
    assert cross == []  # and no cross-base false positives


def test_audio_pairs_collision_structure(spark):
    ids = spark.range(40).withColumnRenamed("id", "doc_id")
    wav = M.synth_wav_corpus(ids, "doc_id", n_bases=8)
    pairs = M.audio_phash_pairs(wav, "payload", "doc_id", max_hamming=6).collect()
    same = {(p.id_a, p.id_b) for p in pairs if p.id_a % 8 == p.id_b % 8}
    expected_same = {
        (a, b) for a in range(40) for b in range(a + 1, 40) if a % 8 == b % 8
    }
    assert same == expected_same
    assert all(p.id_a % 8 == p.id_b % 8 for p in pairs)


def test_pairs_plan_is_banded_never_allpairs(spark):
    ids = spark.range(20).withColumnRenamed("id", "doc_id")
    png = M.synth_png_corpus(ids, "doc_id", n_bases=4)
    plan = (
        M.image_phash_pairs(png, "payload", "doc_id", max_hamming=6)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_image_phash_plug_in_decoder(spark):
    # decode_fn contract: any bytes -> (h, w) array callable slots in
    ids = spark.range(6).withColumnRenamed("id", "doc_id")
    df = ids.withColumn("payload", F.encode(F.lit("x"), "utf-8"))

    def decoder(payload: bytes):
        return np.tile(np.arange(16.0, 0, -1), (8, 1))  # fixed ramp

    rows = M.image_phash(df, "payload", "doc_id", decode_fn=decoder).collect()
    assert len(rows) == 6
    assert len({r.phash for r in rows}) == 1  # same pixels -> same hash
    assert rows[0].phash == M._to_signed64((1 << 64) - 1)  # all-descending ramp


@pytest.mark.slow
def test_media_dup_clusters_structure_and_survivor(spark):
    """One cluster per base image, every sibling a member, survivor =
    largest payload (ties -> smallest id) — verified against the
    per-base payload sizes computed directly."""
    ids = spark.range(30).withColumnRenamed("id", "doc_id")
    png = M.synth_png_corpus(ids, "doc_id", n_bases=6)
    out = {
        r.cluster_id: (r.keep_id, r.keep_score, r.n_members)
        for r in M.media_dup_clusters(png, "payload", "doc_id").collect()
    }
    sizes = {
        r.doc_id: r.sz
        for r in png.selectExpr("doc_id", "length(payload) AS sz").collect()
    }
    assert set(out) == set(range(6))  # cluster_id = min member id = base
    for base, (keep_id, keep_score, n) in out.items():
        members = [d for d in range(30) if d % 6 == base]
        assert n == len(members)
        best = max(members, key=lambda d: (sizes[d], -d))
        assert (keep_id, keep_score) == (best, sizes[best])


@pytest.mark.slow
def test_media_dup_clusters_audio_modality_and_bad_modality(spark):
    ids = spark.range(12).withColumnRenamed("id", "doc_id")
    wav = M.synth_wav_corpus(ids, "doc_id", n_bases=3)
    out = M.media_dup_clusters(wav, "payload", "doc_id", modality="audio").collect()
    assert {r.cluster_id for r in out} == {0, 1, 2}
    assert all(r.n_members == 4 for r in out)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="modality"):
        M.media_dup_clusters(wav, "payload", "doc_id", modality="video")


def test_media_dup_clusters_pair_volume_is_fingerprint_bounded(spark):
    """The sf1-probe regression pin: clustering a corpus of large
    exact-duplicate groups must NEVER materialize member-level pairs —
    the banded search runs over distinct fingerprints, so a pure
    exact-dup corpus (one fingerprint per group, zero cross-group
    near-edges) produces ZERO pairs while every group still surfaces as
    a cluster with all members counted. Member-level pairing here would
    be C(group,2) per group — the quadratic the sf1 probe caught."""
    from pyspark.sql import functions as F

    from opendosm_parquet_to_sqlite_spark.caching import persist_tracked
    from opendosm_parquet_to_sqlite_spark.operators.neardup import (
        hamming_band_pairs,
    )

    # 3 groups x 20 members, zero perturbation -> identical payloads
    # within a group (noise_px=0), so exactly 3 distinct fingerprints
    ids = spark.range(60).withColumnRenamed("id", "doc_id")
    png = M.synth_png_corpus(ids, "doc_id", n_bases=3, noise_px=0)
    fp = persist_tracked(
        M.image_phash(png, "payload", "doc_id", with_bytes=True)
    )
    assert fp.select("phash").distinct().count() == 3
    reps = fp.groupBy("phash").agg(F.min("doc_id").alias("doc_id"))
    pairs = hamming_band_pairs(
        reps.select("doc_id", "phash"),
        id_col="doc_id", fp_col="phash", max_hamming=6, bits=64,
    )
    # distinct base images are far apart -> rep graph has no edge at all
    assert pairs.count() == 0
    out = M.media_dup_clusters(png, "payload", "doc_id").collect()
    assert {r.cluster_id for r in out} == {0, 1, 2}
    assert all(r.n_members == 20 for r in out)


@pytest.mark.slow
def test_media_dup_clusters_merges_across_fingerprints(spark):
    """Cross-check of the collapse: groups whose fingerprints differ by
    <= max_hamming still merge into one cluster through the rep edge —
    the collapse changes pair volume, not connectivity."""
    ids = spark.range(20).withColumnRenamed("id", "doc_id")
    # default noise_px=4 perturbs pixels per id: sibling fingerprints sit
    # within a few bits of their base, well under max_hamming=6
    png = M.synth_png_corpus(ids, "doc_id", n_bases=4)
    out = M.media_dup_clusters(png, "payload", "doc_id").collect()
    assert {r.cluster_id for r in out} == {0, 1, 2, 3}
    assert all(r.n_members == 5 for r in out)


@pytest.mark.slow
def test_max_pairs_valve_raises_with_cluster_pointer(spark):
    """The round-10 safety valve: a corpus whose exact-dup member-pair
    estimate exceeds max_pairs must refuse to build the quadratic pair
    plan and point at media_dup_clusters (the 100 TB path); a generous
    cap lets the same corpus through unchanged."""
    import pytest

    # 3 groups x 20 identical payloads -> 3 * C(20,2) = 570 member pairs
    ids = spark.range(60).withColumnRenamed("id", "doc_id")
    png = M.synth_png_corpus(ids, "doc_id", n_bases=3, noise_px=0)
    with pytest.raises(ValueError, match="media_dup_clusters"):
        M.image_phash_pairs(png, "payload", "doc_id", max_pairs=100)
    # generous cap: plan builds and runs; every within-group pair emits
    ok = M.image_phash_pairs(png, "payload", "doc_id", max_pairs=10_000)
    assert ok.count() == 570
    # default: valve ON at 50M — this corpus (570 pairs) passes through
    assert M.image_phash_pairs(png, "payload", "doc_id").count() == 570
    # None is the explicit escape hatch: no eager estimate, plan builds
    assert (
        M.image_phash_pairs(png, "payload", "doc_id", max_pairs=None).count()
        == 570
    )
    # audio twin shares the valve
    wav = M.synth_wav_corpus(ids, "doc_id", n_bases=3)
    with pytest.raises(ValueError, match="media_dup_clusters"):
        M.audio_phash_pairs(wav, "payload", "doc_id", max_pairs=100)


@pytest.mark.slow
def test_max_pairs_valve_is_on_by_default(spark):
    """Round-10 verdict order 1: the quadratic member-pair plan must be
    unreachable with DEFAULT arguments. A planted exact-dup clique whose
    pair estimate exceeds DEFAULT_MAX_PAIRS trips the valve without any
    caller opt-in, for both modalities; the scale-safe sibling
    media_dup_clusters still handles the same corpus."""
    import pytest

    assert M.DEFAULT_MAX_PAIRS == 50_000_000
    # One clique of 12,000 identical payloads -> C(12000,2) ~ 72M pairs
    # estimated from the fingerprint counts alone (the valve raises
    # BEFORE any pair is materialized, so the test stays cheap).
    ids = spark.range(12_000).withColumnRenamed("id", "doc_id")
    png = M.synth_png_corpus(ids, "doc_id", n_bases=1, noise_px=0)
    with pytest.raises(ValueError, match="media_dup_clusters"):
        M.image_phash_pairs(png, "payload", "doc_id")
    # audio: synth_wav varies per-id gain (fingerprints can split under
    # quantization), so plant byte-identical payloads — the exact-dup
    # clique shape the valve exists for.
    one = (
        M.synth_wav_corpus(
            spark.range(1).withColumnRenamed("id", "doc_id"),
            "doc_id",
            n_bases=1,
        )
        .first()
        .payload
    )
    wav = spark.range(12_000).select(
        F.col("id").alias("doc_id"), F.lit(bytes(one)).alias("payload")
    )
    with pytest.raises(ValueError, match="media_dup_clusters"):
        M.audio_phash_pairs(wav, "payload", "doc_id")
    # the steered-to path digests the same clique: one cluster, all members
    out = M.media_dup_clusters(png, "payload", "doc_id").collect()
    assert len(out) == 1 and out[0].n_members == 12_000


def test_scale_docstrings_point_pair_users_at_clusters():
    """Docstring pin (round-9 verdict item 8): the member-pair operators
    must steer 100 TB users to media_dup_clusters."""
    assert "media_dup_clusters" in M.image_phash_pairs.__doc__
    assert "quadratic" in M.image_phash_pairs.__doc__
    assert "media_dup_clusters" in M.audio_phash_pairs.__doc__
