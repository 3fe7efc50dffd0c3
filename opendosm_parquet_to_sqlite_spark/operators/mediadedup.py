"""Cross-item media near-duplicate detection: perceptual fingerprints over
DECODED pixels/PCM + the shared banded-Hamming pair machinery.

North-star extension (the reference is text/number-only, src/main.rs:20,30):
the image/audio analog of operators/neardup.py's SimHash — a training-data
pipeline at 100 TB dedups every modality, and re-encoded media (same pixels,
different bytes) defeats byte-level exact dedup by construction.

Pipeline shape per modality:

1. decode: payload bytes → grayscale pixel grid / mono PCM, inside the same
   Arrow-batched mapInPandas contract as operators/multimodal.py — REAL
   stdlib decode for PNG (png_pixels: zlib + full filter reconstruction)
   and canonical 8/16-bit PCM WAV; deterministic FAKE media for other
   containers so mixed corpora keep flowing in this codec-less container
   (plug a PIL/libav-backed decode_fn for full coverage — the Spark-side
   plumbing is identical).
2. fingerprint: 64-bit perceptual hash computed in numpy INSIDE the decode
   batch — dHash for images (adjacent-cell gradient signs over an exact
   area-mean 8x9 thumbnail: invariant to any monotone brightness/contrast
   map and to re-encoding, tolerant of small pixel noise), adjacent
   log-band spectral-energy signs for audio (Welch-averaged |rfft|^2 →
   64 band comparisons: invariant to amplitude scaling by construction,
   since a gain multiplies every band by the same factor).
3. pairs: neardup.hamming_band_pairs — the SAME pigeonhole banding that
   powers text SimHash (dist ≤ d ⇒ one of d+1 fingerprint chunks is
   identical → equi-join on chunks, exact bit_count verify). NEVER
   all-pairs: shuffle volume is O(items · (d+1) · 16 bytes); payloads
   never shuffle — only (id, fingerprint) rows do.

Scale notes: the fingerprint step is embarrassingly parallel (one pass over
payload bytes, 8 bytes out per item); at 100 TB the media bytes stay where
the scan put them, and the pair search runs over an items-count-sized
fingerprint table. Degenerate buckets (mass-duplicate media) are dropped by
max_bucket_size exactly as in the text path — exact dedup owns those.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StructField,
    StructType,
)

from ..caching import persist_tracked
from .multimodal import _PNG_SIG, png_pixels
from .neardup import hamming_band_pairs
from .text import spread_small_input

# Default member-pair valve for the pair-contract APIs: generous enough
# that any corpus a pairwise consumer can actually review passes, small
# enough that an exact-dup-clique blow-up (quadratic in clique size)
# raises before the plan is built. None = explicitly unbounded.
DEFAULT_MAX_PAIRS = 50_000_000

# Distinct-fingerprint ceiling for broadcasting the cluster map in
# media_dup_clusters: 4M rows of (int64 phash, int64 cluster_id) is
# ~64 MB as a broadcast hash relation — far under Spark's 8 GB
# broadcast cap yet big enough that every boilerplate-dominated corpus
# (the skew case the broadcast exists for) qualifies.
BROADCAST_FP_LIMIT = 4_000_000

FP_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("phash", LongType())]
)

# fingerprint + payload size from the same decode pass (with_bytes=True)
FP_BYTES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("phash", LongType()),
        StructField("n_bytes", LongType()),
    ]
)


# --- numpy fingerprint kernels (run executor-side inside mapInPandas) --------


def _bin_mean_axis0(a, n: int):
    """Exact area-mean 1-D resample along axis 0 to n bins (fractional bin
    edges integrate partial cells — this is true area averaging, not
    nearest/bilinear sampling, so a re-encoded or filter-shuffled image
    yields the IDENTICAL thumbnail and the test pins can demand equality).
    Works for both down- and up-scaling."""
    import numpy as np

    m = a.shape[0]
    pref = np.concatenate(
        [np.zeros((1,) + a.shape[1:], dtype=np.float64), np.cumsum(a, axis=0)]
    )
    edges = np.linspace(0.0, float(m), n + 1)
    out = np.empty((n,) + a.shape[1:], dtype=np.float64)
    for i in range(n):
        lo, hi = edges[i], edges[i + 1]
        lo_i, hi_i = int(np.floor(lo)), int(np.ceil(hi))
        s = pref[hi_i] - pref[lo_i]
        if lo > lo_i:
            s = s - a[lo_i] * (lo - lo_i)
        if hi_i > hi:
            s = s - a[hi_i - 1] * (hi_i - hi)
        out[i] = s / (hi - lo)
    return out


def _to_signed64(v: int) -> int:
    """Python int in [0, 2^64) → the int64 Spark's LongType stores."""
    return v - (1 << 64) if v >= (1 << 63) else v


def dhash64(gray, hash_size: int = 8) -> int:
    """64-bit difference hash of a grayscale float array (h, w).

    Area-mean resize to (hash_size, hash_size+1), then bit r*8+c = 1 iff
    thumb[r, c] > thumb[r, c+1]. Gradient signs are invariant under any
    strictly-increasing pixel map (brightness/contrast/gamma), which is
    what makes dHash the standard re-encode-robust image fingerprint.
    Returns a SIGNED 64-bit int (bit 63 is a data bit; the banding layer
    extracts chunks with shiftrightunsigned, so the sign is harmless).
    """
    thumb = _bin_mean_axis0(
        _bin_mean_axis0(gray, hash_size).T, hash_size + 1
    ).T  # (hash_size, hash_size+1)
    v = 0
    for r in range(hash_size):
        for c in range(hash_size):
            if thumb[r, c] > thumb[r, c + 1]:
                v |= 1 << (r * hash_size + c)
    return _to_signed64(v)


def _gray_from_png(payload: bytes):
    """PNG payload → (h, w) float64 luma grid via the stdlib decoder."""
    import numpy as np

    w, h, ch, raw = png_pixels(payload)
    px = np.frombuffer(raw, dtype=np.uint8).reshape(h, w, ch).astype(np.float64)
    if ch >= 3:  # RGB / RGBA → ITU-R 601 luma; alpha ignored
        return 0.299 * px[:, :, 0] + 0.587 * px[:, :, 1] + 0.114 * px[:, :, 2]
    return px[:, :, 0]  # gray / gray+alpha


def _fake_gray(payload: bytes):
    """Deterministic pseudo-image for undecodable payloads: a stable 16x16
    grid expanded from sha256 of the bytes. Keeps mixed-corpus pipelines
    total (same philosophy as multimodal.fake_decode); NOT real pixels —
    perceptual similarity is only meaningful on really-decoded media."""
    import numpy as np

    h = hashlib.sha256(payload).digest()
    blocks = [hashlib.sha256(h + bytes([i])).digest() for i in range(8)]
    return (
        np.frombuffer(b"".join(blocks), dtype=np.uint8)[:256]
        .reshape(16, 16)
        .astype(np.float64)
    )


def gray_decode(payload: bytes):
    """Default image decoder: real PNG luma where the payload is a valid
    PNG, deterministic fake grid otherwise."""
    if payload.startswith(_PNG_SIG):
        try:
            return _gray_from_png(payload)
        except (ValueError, NotImplementedError, zlib.error, struct.error):
            pass
    return _fake_gray(payload)


def wav_pcm(payload: bytes):
    """Canonical WAV payload → (rate, mono float64 PCM in [-1, 1]).

    Parses the fixed 44-byte canonical header (PCM fmt chunk first, data
    chunk second — the layout multimodal.wav_metadata documents); 16-bit
    and 8-bit PCM, any channel count (averaged to mono). Raises ValueError
    for anything else — callers that must stay total use audio_decode.
    """
    import numpy as np

    if len(payload) < 44 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a canonical WAV")
    channels = int.from_bytes(payload[22:24], "little")
    rate = int.from_bytes(payload[24:28], "little")
    bits = int.from_bytes(payload[34:36], "little")
    data_size = int.from_bytes(payload[40:44], "little")
    data = payload[44 : 44 + data_size]
    if channels < 1 or rate < 1:
        raise ValueError("bad WAV header")
    if bits == 16:
        x = np.frombuffer(data[: len(data) // 2 * 2], dtype="<i2").astype(np.float64)
        x /= 32768.0
    elif bits == 8:
        x = (np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    else:
        raise ValueError(f"unsupported bit depth {bits}")
    if channels > 1:
        n = len(x) // channels * channels
        x = x[:n].reshape(-1, channels).mean(axis=1)
    return rate, x


def _fake_pcm(payload: bytes):
    """Deterministic pseudo-PCM for undecodable payloads (same contract as
    _fake_gray): 2048 stable samples from a sha256 stream."""
    import numpy as np

    h = hashlib.sha256(payload).digest()
    blocks = [hashlib.sha256(h + bytes([i])).digest() for i in range(64)]
    u = np.frombuffer(b"".join(blocks), dtype=np.uint8)[:2048].astype(np.float64)
    return 8000, (u - 128.0) / 128.0


def audio_decode(payload: bytes):
    """Default audio decoder: real canonical-WAV PCM where valid,
    deterministic fake PCM otherwise."""
    try:
        return wav_pcm(payload)
    except (ValueError, struct.error):
        return _fake_pcm(payload)


def audio_fp64(x, rate: int, nfft: int = 512) -> int:
    """64-bit spectral fingerprint of a mono PCM array.

    Welch-style averaged power spectrum (hop nfft/2, Hann window), then 65
    log-spaced band energies between bin 1 and nfft/2 (DC excluded), then
    bit i = band[i] > band[i+1]. A gain g multiplies EVERY band by g², so
    the comparisons — and the fingerprint — are amplitude-invariant by
    construction; different harmonic content flips many band comparisons.
    Short clips are zero-padded to one frame. Returns signed int64.
    """
    import numpy as np

    x = np.asarray(x, dtype=np.float64)
    peak = np.max(np.abs(x))
    if peak > 0:  # pre-normalize so quantization residue is the ONLY gain
        x = x / peak  # artifact left (the band comparisons are already
        # gain-invariant; this just keeps FP arithmetic in one regime)
    if len(x) < nfft:
        x = np.concatenate([x, np.zeros(nfft - len(x))])
    hop = nfft // 2
    win = np.hanning(nfft)
    n_frames = 1 + (len(x) - nfft) // hop
    spec = np.zeros(nfft // 2 + 1)
    for f in range(n_frames):
        seg = x[f * hop : f * hop + nfft] * win
        spec += np.abs(np.fft.rfft(seg)) ** 2
    spec /= n_frames
    # 66 log-spaced STRICTLY increasing integer edges over [1, nfft/2]
    # (geomspace collides at the low end; the forward/backward passes
    # restore strict monotonicity without leaving the spectrum)
    edges = np.round(np.geomspace(1, nfft // 2, 66)).astype(int)
    for i in range(1, 66):
        edges[i] = max(edges[i], edges[i - 1] + 1)
    edges[-1] = min(edges[-1], nfft // 2)
    for i in range(64, -1, -1):
        edges[i] = min(edges[i], edges[i + 1] - 1)
    bands = np.array(
        [spec[edges[i] : edges[i + 1] + 1].mean() for i in range(65)]
    )
    v = 0
    for i in range(64):
        if bands[i] > bands[i + 1]:
            v |= 1 << i
    return _to_signed64(v)


# --- Spark wrappers -----------------------------------------------------------


def image_phash(
    df: DataFrame,
    payload_col: str,
    id_col: str,
    hash_size: int = 8,
    decode_fn: Callable[[bytes], object] | None = None,
    with_bytes: bool = False,
) -> DataFrame:
    """(id, payload) → (doc_id, phash): 64-bit dHash per image via
    Arrow-batched mapInPandas. decode_fn overrides the payload→gray-array
    step (plug PIL for JPEG/WebP; default gray_decode is real-PNG + fake
    fallback). Narrow: one pass over payloads, 16 bytes out per row.
    with_bytes=True appends the payload byte size (n_bytes) from the SAME
    pass — survivorship scoring without a second payload read."""
    decode = decode_fn or gray_decode

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = {
                "doc_id": pdf[id_col].astype("int64"),
                "phash": [
                    dhash64(decode(bytes(b)), hash_size)
                    for b in pdf[payload_col]
                ],
            }
            if with_bytes:
                out["n_bytes"] = [len(b) for b in pdf[payload_col]]
            yield pd.DataFrame(out)

    # decode+hash is CPU-bound Python: spread a few-file scan across cores
    # (metadata no-op when the input is already well-partitioned)
    return spread_small_input(df.select(id_col, payload_col)).mapInPandas(
        run, FP_BYTES_SCHEMA if with_bytes else FP_SCHEMA
    )


def audio_phash(
    df: DataFrame,
    payload_col: str,
    id_col: str,
    nfft: int = 512,
    decode_fn: Callable[[bytes], tuple] | None = None,
    with_bytes: bool = False,
) -> DataFrame:
    """(id, payload) → (doc_id, phash): 64-bit spectral fingerprint per
    clip via Arrow-batched mapInPandas (default audio_decode: canonical
    WAV + fake fallback; plug libav/soundfile via decode_fn).
    with_bytes=True appends the payload byte size (n_bytes) from the SAME
    pass — survivorship scoring without a second payload read."""
    decode = decode_fn or audio_decode

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            fps = []
            for b in pdf[payload_col]:
                rate, x = decode(bytes(b))
                fps.append(audio_fp64(x, rate, nfft))
            out = {"doc_id": pdf[id_col].astype("int64"), "phash": fps}
            if with_bytes:
                out["n_bytes"] = [len(b) for b in pdf[payload_col]]
            yield pd.DataFrame(out)

    return spread_small_input(df.select(id_col, payload_col)).mapInPandas(
        run, FP_BYTES_SCHEMA if with_bytes else FP_SCHEMA
    )


def _check_member_pair_volume(fp: DataFrame, max_pairs: int) -> None:
    """The max_pairs safety valve: estimate the EXACT-duplicate member-pair
    volume — Σ c·(c−1)/2 over repeated fingerprints, the term that is
    quadratic in clique size and dominates any blow-up (the sf1 probe's
    50 cliques of 1000 docs ARE ~25M output rows before a single banded
    near-dup pair is added) — and refuse to build the pair plan when it
    exceeds the cap. One fingerprint-keyed count + scalar agg; runs
    eagerly, which is the point of a valve."""
    est = (
        fp.groupBy("phash")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("pairs")
        )
        .first()["pairs"]
    )
    est = int(est or 0)
    if est > int(max_pairs):
        raise ValueError(
            f"member-pair volume estimate {est} exceeds max_pairs="
            f"{int(max_pairs)}: repeated fingerprints make the per-member "
            f"pair output quadratic in clique size. At scale use "
            f"media_dup_clusters instead — it searches DISTINCT "
            f"fingerprints and assigns members by one broadcast join, "
            f"never materializing member pairs."
        )


def image_phash_pairs(
    df: DataFrame,
    payload_col: str,
    id_col: str,
    max_hamming: int = 6,
    hash_size: int = 8,
    max_bucket_size: int | None = 1024,
    decode_fn: Callable[[bytes], object] | None = None,
    max_pairs: int | None = DEFAULT_MAX_PAIRS,
) -> DataFrame:
    """Image near-dup pairs: dHash fingerprints → banded Hamming search
    (neardup.hamming_band_pairs, bits=64). Output (id_a, id_b, hamming),
    id_a < id_b. Payload bytes never shuffle.

    SCALE WARNING — this is the MEMBER-pair contract: every pair of docs
    whose fingerprints collide is a row, so exact-dup cliques emit
    quadratic output (m docs sharing one fingerprint → m·(m−1)/2 rows;
    the sf1 probe measured 33× for 10× data on exactly that corpus
    shape). The 100 TB path is `media_dup_clusters`, which searches
    DISTINCT fingerprints and lets members inherit cluster ids through
    one broadcast join — linear output, measured 1.7× at the same probe.
    Reach for this pair form only when downstream genuinely consumes
    per-pair rows (e.g. pairwise review queues). `max_pairs` is the
    safety valve, ON BY DEFAULT at 50M pairs: an exact-dup member-pair
    estimate (Σ c·(c−1)/2 over repeated fingerprints — one cheap keyed
    count, eager) runs first and raises with that pointer instead of
    letting the quadratic output materialize. The fingerprints are
    persisted across the valve so the payload decode runs once, not
    twice. Pass `max_pairs=None` to explicitly accept unbounded pair
    output."""
    fp = image_phash(df, payload_col, id_col, hash_size, decode_fn)
    if max_pairs is not None:
        fp = persist_tracked(fp)
        _check_member_pair_volume(fp, max_pairs)
    return hamming_band_pairs(
        fp,
        id_col="doc_id",
        fp_col="phash",
        max_hamming=max_hamming,
        bits=64,
        max_bucket_size=max_bucket_size,
    )


def audio_phash_pairs(
    df: DataFrame,
    payload_col: str,
    id_col: str,
    max_hamming: int = 6,
    nfft: int = 512,
    max_bucket_size: int | None = 1024,
    decode_fn: Callable[[bytes], tuple] | None = None,
    max_pairs: int | None = DEFAULT_MAX_PAIRS,
) -> DataFrame:
    """Audio near-dup pairs: spectral fingerprints → banded Hamming search.
    Same-content-different-gain clips land at hamming 0 (see audio_fp64).
    MEMBER-pair contract — quadratic output on exact-dup cliques; the
    scale path is `media_dup_clusters` (see image_phash_pairs' scale
    warning); `max_pairs` valve identical (on by default at 50M,
    `None` disables, fingerprints persisted across the check)."""
    fp = audio_phash(df, payload_col, id_col, nfft, decode_fn)
    if max_pairs is not None:
        fp = persist_tracked(fp)
        _check_member_pair_volume(fp, max_pairs)
    return hamming_band_pairs(
        fp,
        id_col="doc_id",
        fp_col="phash",
        max_hamming=max_hamming,
        bits=64,
        max_bucket_size=max_bucket_size,
    )


# --- deterministic media fixture synthesis (for registered queries/tests) ----

PAYLOAD_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
)


def encode_png_gray(gray, level: int = 6) -> bytes:
    """Minimal REAL grayscale 8-bit PNG encoder (stdlib only): filter-0
    scanlines → one zlib IDAT → signed chunks. png_pixels round-trips it
    pixel-exactly, so fixtures built here exercise the REAL decode path."""
    import numpy as np

    a = np.clip(np.asarray(gray), 0, 255).astype(np.uint8)
    h, w = a.shape

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # 8-bit grayscale
    raw = b"".join(b"\x00" + a[r].tobytes() for r in range(h))
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, level))
        + chunk(b"IEND", b"")
    )


def encode_wav_pcm16(x, rate: int = 8000) -> bytes:
    """Minimal canonical 16-bit mono WAV encoder (stdlib only)."""
    import numpy as np

    pcm = (np.clip(np.asarray(x, dtype=np.float64), -1, 1) * 32767).astype("<i2")
    data = pcm.tobytes()
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def _base_gray(base: int, size: int):
    """Deterministic (size, size) base image from sha256(base): smooth-ish
    block pattern so dHash has real gradients to sign."""
    import numpy as np

    seed = hashlib.sha256(b"img-base-%d" % base).digest()
    blocks = [
        hashlib.sha256(seed + bytes([i])).digest()
        for i in range((size * size) // 32 + 1)
    ]
    flat = np.frombuffer(b"".join(blocks), dtype=np.uint8)[: size * size]
    g = flat.reshape(size, size).astype(np.float64)
    # light smoothing (3-tap box both axes) to create coherent gradients
    g = (np.roll(g, 1, 0) + g + np.roll(g, -1, 0)) / 3.0
    g = (np.roll(g, 1, 1) + g + np.roll(g, -1, 1)) / 3.0
    return g


def synth_png_corpus(
    df: DataFrame,
    id_col: str,
    n_bases: int = 50,
    size: int = 24,
    noise_px: int = 4,
) -> DataFrame:
    """Deterministic synthetic PNG corpus keyed off an id column: ids with
    the same (id % n_bases) share a base image; each id perturbs noise_px
    pixels by ±3 gray levels (keyed by sha256 of the id) — a re-encode-ish
    perturbation dHash should survive, giving the registered query a known
    collision structure over the text-only testdata tables (the media
    analog of multimodal.binary_from_text)."""

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        base_cache: dict[int, object] = {}
        for pdf in batches:
            payloads = []
            for i in pdf[id_col].astype("int64"):
                b = int(i) % n_bases
                if b not in base_cache:
                    base_cache[b] = _base_gray(b, size)
                g = base_cache[b].copy()
                pert = hashlib.sha256(b"img-pert-%d" % int(i)).digest()
                for k in range(noise_px):
                    r = pert[3 * k] % size
                    c = pert[3 * k + 1] % size
                    d = (pert[3 * k + 2] % 7) - 3
                    g[r, c] = float(np.clip(g[r, c] + d, 0, 255))
                payloads.append(encode_png_gray(g))
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].astype("int64"), "payload": payloads}
            )

    return spread_small_input(df.select(id_col)).mapInPandas(run, PAYLOAD_SCHEMA)


def synth_wav_corpus(
    df: DataFrame,
    id_col: str,
    n_bases: int = 50,
    n_samples: int = 2000,
    rate: int = 8000,
) -> DataFrame:
    """Deterministic synthetic WAV corpus: ids sharing (id % n_bases) carry
    the SAME dense-spectrum content at a DIFFERENT per-id gain (0.2..1.0)
    — exactly the variation the spectral fingerprint must collapse.

    The content is a DENSE 40-tone mixture (seed-derived frequencies and
    amplitudes), not a sparse 3-tone chord: with sparse content most
    spectral bands hold only quantization noise, whose level varies with
    gain, making adjacent-band comparisons coin flips. Dense spectra put
    real signal in every band — the regime real speech/music occupies and
    the one adjacent-band fingerprints are designed for."""

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        t = np.arange(n_samples) / rate
        base_cache: dict[int, object] = {}
        for pdf in batches:
            payloads = []
            for i in pdf[id_col].astype("int64"):
                b = int(i) % n_bases
                if b not in base_cache:
                    seed = hashlib.sha256(b"wav-base-%d" % b).digest()
                    ext = seed + hashlib.sha256(seed).digest() + hashlib.sha256(
                        seed + b"2"
                    ).digest() + hashlib.sha256(seed + b"3").digest()
                    x = np.zeros(n_samples)
                    for k in range(40):
                        f = 60 + int.from_bytes(ext[3 * k : 3 * k + 2], "big") % (
                            rate // 2 - 120
                        )
                        amp = 0.2 + ext[3 * k + 2] / 255.0
                        x += amp * np.sin(2 * np.pi * f * t + k)
                    base_cache[b] = x / np.max(np.abs(x))
                gain = 0.2 + (int(i) * 2654435761 % 1000) / 1250.0  # 0.2..1.0
                payloads.append(encode_wav_pcm16(base_cache[b] * gain, rate))
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].astype("int64"), "payload": payloads}
            )

    return spread_small_input(df.select(id_col)).mapInPandas(run, PAYLOAD_SCHEMA)


def media_dup_clusters(
    df: DataFrame,
    payload_col: str,
    id_col: str,
    modality: str = "image",
    max_hamming: int = 6,
    max_bucket_size: int | None = 1024,
    decode_fn=None,
) -> DataFrame:
    """End-to-end media dedup: perceptual-hash pairs → connected
    components → quality-aware survivorship — the media twin of the text
    pipeline's dup_clusters + dedup_keep_best composition.

    A re-encode chain (original → resized copy → re-compressed copy) is
    a PATH in the pair graph, not a clique: pairwise Hamming between the
    endpoints can exceed the threshold while each hop is under it, so
    clustering (union-find), not pair filtering, is the correct dedup
    unit — the same argument corpus_clean_clustered documents for text.

    Survivor per cluster = the member with the LARGEST payload (bytes is
    the honest codec-free quality proxy: for a fixed codec, more bytes =
    less compression loss), ties → smallest id. Output: (cluster_id,
    keep_id, keep_score, n_members) — keep_score is the payload size.

    Shape: ONE pass over the payloads computes fingerprint AND byte size
    together (scalar Arrow pandas_udf), projected down to the tiny
    (id, phash, bytes) table and persist_tracked — the pair search and
    the survivorship scorer both read THAT, so the decode (and, for a
    synthesized bench corpus, the encode upstream of it) runs exactly
    once and payload bytes are touched exactly once. (Round-7 shape
    decoded twice: the pair leg and the size leg each replayed the
    payload lineage — benched 1.87×.)

    The pair search runs over DISTINCT fingerprints, never over members.
    Hamming distance is a function of the two hash VALUES alone, so
    collapsing each distinct fingerprint to its minimum member id before
    banding is semantics-preserving — and it is the difference between
    pair volume scaling with fingerprint cardinality and scaling with
    the SQUARE of duplicate-cluster size. (The sf1 scale probe caught
    the member-level version: a corpus with 1000-member duplicate
    cliques produced 50 × C(1000,2) ≈ 25M verified pairs, 147 s of pair
    generation, and an AQE broadcast OOM inside the union-find — for a
    graph whose distinct-fingerprint form has a few hundred nodes. Real
    100 TB corpora have exactly this shape: boilerplate images repeat
    millions of times.) Members then inherit their fingerprint's
    component through one hash-keyed join; a fingerprint with no
    near-dup edge keeps its own rep as the cluster id, which is what
    makes pure exact-duplicate groups (hamming 0 through the SAME hash)
    surface as clusters without materializing a single intra-group
    pair. cluster_id stays the minimum member id of the component (each
    rep is its hash's min member; the component min over reps is the
    min over members), and singleton docs — unique hash, no edge — are
    dropped at the end, matching the pairwise contract. Payloads never
    shuffle; their sizes do.
    """
    from .graph import connected_components, keep_best_per_cluster

    if modality == "image":
        raw_fp = image_phash(
            df, payload_col, id_col, decode_fn=decode_fn, with_bytes=True
        )
    elif modality == "audio":
        raw_fp = audio_phash(
            df, payload_col, id_col, decode_fn=decode_fn, with_bytes=True
        )
    else:
        raise ValueError(f"unknown modality {modality!r}")
    fp = persist_tracked(raw_fp)
    reps = fp.groupBy("phash").agg(F.min("doc_id").alias("doc_id"))
    pairs = hamming_band_pairs(
        reps.select("doc_id", "phash"),
        id_col="doc_id",
        fp_col="phash",
        max_hamming=max_hamming,
        bits=64,
        max_bucket_size=max_bucket_size,
    )
    comps = connected_components(pairs.select("id_a", "id_b"))
    # every fingerprint gets a cluster: its component label when edged,
    # its own rep otherwise (exact-dup groups with no near neighbor)
    hash_cluster = reps.join(comps, "doc_id", "left").select(
        "phash",
        F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
    )
    # The cluster map has one row per DISTINCT fingerprint. When that
    # count is small — the boilerplate-heavy corpora this operator
    # targets, where a hash repeats millions of times — broadcasting it
    # removes a member-table shuffle keyed by phash that would be
    # maximally skewed (one hot hash → ONE reduce partition), and does
    # so deterministically instead of hoping AQE skew-split fires. But
    # when most media are unique the map is ~corpus-sized and a forced
    # broadcast blows past the 8 GB broadcast cap / driver memory at
    # exactly the scale the operator claims, so gate on the distinct
    # count (one cheap agg over the already-persisted fingerprints) and
    # fall back to the shuffle join — unskewed by construction there,
    # since near-unique fingerprints spread across reducers; AQE covers
    # the middle ground.
    n_hashes = int(fp.agg(F.countDistinct("phash").alias("n")).first()["n"])
    cluster_map = (
        F.broadcast(hash_cluster)
        if n_hashes <= BROADCAST_FP_LIMIT
        else hash_cluster
    )
    members = fp.join(cluster_map, "phash").select(
        F.col("doc_id"), "cluster_id"
    )
    sized = fp.select(F.col("doc_id").alias(id_col), "n_bytes")
    return keep_best_per_cluster(members, sized, id_col, "n_bytes").filter(
        F.col("n_members") >= 2
    )


# --- persisted fingerprint index (ingest-increment path) ----------------------
