"""Multimodal (binary) column operators — images/audio/video as opaque
`binary` payloads with typed metadata.

North-star extension (no analog in the reference, which is text/number-only:
src/main.rs:20,30,48). Contract:

- A media row is (id, payload: binary, + metadata columns derived here).
- Cheap metadata (size, digest, container sniff) is NATIVE column
  expressions — magic-byte dispatch runs inside whole-stage codegen over a
  12-byte prefix, never touching Python.
- Decode-class work (pixel decode, feature extraction) runs as
  Arrow-batched mapInPandas: the ONLY sane shape for
  per-payload Python at scale — payload bytes stream executor-side in Arrow
  batches, one Python worker per core, no driver involvement. The codec is
  pluggable: `real_decode` does FULL stdlib decode for PNG (zlib inflate +
  scanline filter reconstruction, pixel-exact — png_pixels) and canonical
  WAV; containers that genuinely need codec libraries (JPEG/MP4) raise
  NotImplementedError with the plug-in contract. The default `auto_decode`
  falls back to a DETERMINISTIC FAKE (bytes → stable pseudo-features) for
  undecodable payloads so mixed corpora keep flowing in this codec-less
  container.

Scale notes: metadata ops are narrow maps (zero shuffle). mapInPandas ops
are embarrassingly parallel; size `spark.sql.execution.arrow.maxRecordsPerBatch`
down (e.g. 64) when payloads are MBs so a batch fits executor memory.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator
from struct import error as struct_error

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# --- native metadata ----------------------------------------------------------


def sniff_media_type(payload: Column) -> Column:
    """Container sniff from magic bytes — native when-chain over a 12-byte
    hex prefix (PNG/JPEG/GIF/RIFF-WAVE/MP4-ftyp), no Python, no shuffle."""
    magic = F.hex(F.substring(payload, 1, 12))
    return (
        F.when(magic.startswith("89504E47"), F.lit("image/png"))
        .when(magic.startswith("FFD8FF"), F.lit("image/jpeg"))
        .when(magic.startswith("47494638"), F.lit("image/gif"))
        .when(
            magic.startswith("52494646")
            & (F.substring(magic, 17, 8) == "57415645"),
            F.lit("audio/wav"),
        )
        .when(F.substring(magic, 9, 8) == "66747970", F.lit("video/mp4"))
        .otherwise(F.lit("application/octet-stream"))
    )


def _le_uint(payload: Column, pos: int, nbytes: int) -> Column:
    """Little-endian unsigned int from payload bytes [pos, pos+nbytes)
    (1-based pos), as a native expression: hex the slice, reverse the byte
    pairs, parse base-16. No Python, runs in codegen."""
    h = F.hex(F.substring(payload, pos, nbytes))
    pairs = [F.substring(h, 2 * i + 1, 2) for i in reversed(range(nbytes))]
    return F.conv(F.concat(*pairs), 16, 10).cast("long")


def wav_metadata(df: DataFrame, payload_col: str) -> DataFrame:
    """Typed audio metadata from a canonical RIFF/WAVE header — entirely
    native expressions (the header is a fixed-layout struct, so 'decoding'
    it needs byte surgery, not a codec): channels, sample rate, bits per
    sample, and duration derived from the data-chunk size. Non-WAV payloads
    yield nulls. Assumes the canonical 44-byte header (fmt chunk first) —
    exotic chunk orders belong to the mapInPandas decoder path."""
    p = F.col(payload_col)
    is_wav = sniff_media_type(p) == "audio/wav"
    channels = _le_uint(p, 23, 2)
    rate = _le_uint(p, 25, 4)
    bits = _le_uint(p, 35, 2)
    data_size = _le_uint(p, 41, 4)
    bytes_per_sec = rate * channels * (bits / F.lit(8))
    duration_ms = F.round(data_size * 1000 / bytes_per_sec).cast("long")
    null_l = F.lit(None).cast("long")
    return df.withColumns(
        {
            "wav_channels": F.when(is_wav, channels).otherwise(null_l),
            "wav_sample_rate": F.when(is_wav, rate).otherwise(null_l),
            "wav_bits": F.when(is_wav, bits).otherwise(null_l),
            "wav_duration_ms": F.when(is_wav, duration_ms).otherwise(null_l),
        }
    )


def payload_metadata(
    df: DataFrame, payload_col: str, hex_digest: bool = False
) -> DataFrame:
    """Attach (n_bytes, digest, media_type) typed metadata columns.

    hex_digest=True routes the md5 through a hex string for engines whose
    md5 is VARCHAR-only (the DuckDB oracle); default hashes the raw bytes.
    """
    p = F.col(payload_col)
    digest = F.md5(F.hex(p)) if hex_digest else F.md5(p)
    return df.withColumns(
        {
            "n_bytes": F.octet_length(p).cast("long"),
            "digest": digest,
            "media_type": sniff_media_type(p),
        }
    )


def binary_from_text(
    df: DataFrame, text_col: str, id_col: str, payload_col: str = "payload"
) -> DataFrame:
    """Deterministic synthetic payloads for fixtures: text bytes prefixed
    with a rotating magic (PNG / JPEG / none) keyed by id % 3. Lets every
    binary operator be exercised — and oracle-checked — on the text-only
    testdata tables."""
    body = F.encode(F.col(text_col), "utf-8")
    mod = F.col(id_col) % 3
    payload = (
        F.when(mod == 0, F.concat(F.expr("X'89504E47'"), body))
        .when(mod == 1, F.concat(F.expr("X'FFD8FFE0'"), body))
        .otherwise(body)
    )
    return df.withColumn(payload_col, payload)


# --- mapInPandas decode plumbing ---------------------------------------------

MEDIA_FEATURES_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("media_type", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("duration_ms", IntegerType()),
    ]
)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # color type -> samples/pixel


def png_pixels(payload: bytes) -> tuple[int, int, int, bytes]:
    """Full PNG decode with ONLY the stdlib: (width, height, n_channels,
    raw interleaved 8-bit samples, row-major).

    Covers gray/RGB/gray+alpha/RGBA at 8- AND 16-bit depth (16-bit
    samples are reduced to their high byte — the spec's 16→8
    approximation) plus palette (color type 3) at bit depths 1/2/4/8,
    both non-interlaced and Adam7-interlaced: chunk walk →
    concatenated-IDAT zlib inflate → per-pass per-scanline filter
    reconstruction (None/Sub/Up/Average/Paeth, the complete filter set;
    Adam7 defilters each of the 7 passes independently then scatters
    into the final raster) → for palette, MSB-first index unpack + PLTE
    lookup, emitting RGB — or RGBA when a tRNS chunk supplies per-entry
    alpha (absent entries default to opaque, per spec). Only genuinely
    codec-library territory (JPEG, exotic IHDR combos) remains behind
    the NotImplementedError plug-in contract.

    Per-byte Python per scanline (Sub/Average/Paeth are sequential in x by
    definition, so there is no vectorized form); production pipelines with
    image libs should plug PIL into decode_fn instead. mapInPandas keeps
    this executor-side and embarrassingly parallel either way.
    """
    import struct
    import zlib

    if not payload.startswith(_PNG_SIG):
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    idat = bytearray()
    meta = None
    plte = None
    trns = None
    while pos + 8 <= len(payload):
        length, ctype = struct.unpack(">I4s", payload[pos : pos + 8])
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) < length:
            raise ValueError(f"truncated {ctype!r} chunk")
        pos += 12 + length  # 4 len + 4 type + data + 4 crc
        if ctype == b"IHDR":
            meta = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"tRNS":
            trns = data
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if meta is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color, comp, filt, interlace = meta
    if comp != 0 or filt != 0:
        raise ValueError("invalid IHDR compression/filter method")
    if interlace not in (0, 1):
        raise ValueError(f"invalid IHDR interlace method {interlace}")
    if color == 3:
        if depth not in (1, 2, 4, 8):
            raise ValueError(f"invalid palette bit depth {depth}")
        if plte is None or len(plte) % 3 or not plte:
            raise ValueError("palette PNG missing/malformed PLTE chunk")
        spp = 1  # one palette index per pixel
    elif color in _PNG_CHANNELS and depth in (8, 16):
        spp = _PNG_CHANNELS[color]
    else:
        raise NotImplementedError(
            f"PNG depth={depth} color={color} needs a codec plug-in "
            "(stdlib path covers 8/16-bit gray/RGB/gray+alpha/RGBA and "
            "1/2/4/8-bit palette, non-interlaced and Adam7)"
        )
    raw = zlib.decompress(bytes(idat))
    # Image buffer holds ONE BYTE PER SAMPLE: 16-bit samples are reduced
    # to their high byte after defiltering (exact at 0x0000/0xFFFF, max
    # error 1/257 — the spec's own 16→8 approximation); palette pixels
    # hold the index byte until _palette_expand.
    img = bytearray(w * h * spp)
    passes = _ADAM7 if interlace == 1 else ((0, 0, 1, 1),)
    off = 0
    for x0, y0, dx, dy in passes:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue  # empty pass for tiny images, no scanlines at all
        # filter unit is whole bytes (sub-byte depths use one byte), spec §9
        bpp = max(1, (depth * spp) // 8)
        stride = (pw * depth * spp + 7) // 8
        rows, off = _defilter(raw, ph, stride, bpp, off)
        for j in range(ph):
            px = _unpack_row(rows[j * stride : (j + 1) * stride], pw, depth, spp)
            y = y0 + j * dy
            if dx == 1:
                img[(y * w + x0) * spp : (y * w + x0 + pw) * spp] = px
            else:
                for i in range(pw):
                    o = (y * w + x0 + i * dx) * spp
                    img[o : o + spp] = px[i * spp : (i + 1) * spp]
    if off != len(raw):
        raise ValueError("IDAT payload does not match IHDR dimensions")
    if color != 3:
        return w, h, spp, bytes(img)
    return _palette_expand(bytes(img), w, h, plte, trns)


# Adam7 pass geometry: (x_start, y_start, x_step, y_step), spec §8.2
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _defilter(
    raw: bytes, ph: int, stride: int, bpp: int, off: int
) -> tuple[bytes, int]:
    """Reconstruct ph scanlines of `stride` bytes starting at `off` in the
    inflated IDAT stream (each prefixed by its filter byte); returns the
    defiltered rows and the new stream offset. Filters reference the
    PREVIOUS ROW OF THE SAME PASS (prev = zeros at each pass start), which
    is why Adam7 defilters per pass rather than over the whole stream."""
    if len(raw) < off + (stride + 1) * ph:
        raise ValueError("IDAT payload does not match IHDR dimensions")
    out = bytearray(stride * ph)
    prev = bytearray(stride)
    for y in range(ph):
        f = raw[off]
        line = bytearray(raw[off + 1 : off + 1 + stride])
        off += stride + 1
        if f == 0:
            pass
        elif f == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif f == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif f == 3:  # Average
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {f} at row {y}")
        out[y * stride : (y + 1) * stride] = line
        prev = line
    return bytes(out), off


def _unpack_row(line: bytes, pw: int, depth: int, spp: int) -> bytes:
    """One defiltered scanline → pw*spp bytes, one byte per sample:
    depth 8 passes through, depth 16 keeps each sample's high byte,
    sub-byte depths (palette) unpack MSB-first."""
    if depth == 8:
        return line[: pw * spp]
    if depth == 16:
        return line[: pw * spp * 2 : 2]
    mask = (1 << depth) - 1
    per_byte = 8 // depth
    out = bytearray(pw)
    for x in range(pw):
        shift = 8 - depth * (x % per_byte + 1)
        out[x] = (line[x // per_byte] >> shift) & mask
    return bytes(out)


def _palette_expand(
    idx_px: bytes,
    w: int,
    h: int,
    plte: bytes,
    trns: bytes | None,
) -> tuple[int, int, int, bytes]:
    """Per-pixel palette index bytes → interleaved RGB(A) samples: PLTE
    lookup, optional tRNS alpha (entries past the tRNS length are opaque,
    per spec)."""
    n_entries = len(plte) // 3
    ch = 4 if trns is not None else 3
    out = bytearray(w * h * ch)
    o = 0
    for idx in idx_px:
        if idx >= n_entries:
            raise ValueError(
                f"palette index {idx} out of range ({n_entries} entries)"
            )
        out[o : o + 3] = plte[idx * 3 : idx * 3 + 3]
        if ch == 4:
            out[o + 3] = trns[idx] if idx < len(trns) else 255
        o += ch
    return w, h, ch, bytes(out)


def real_decode(payload: bytes) -> dict:
    """Actual (non-fake) decode for the containers whose decode is pure
    byte/zlib work: PNG (full pixel reconstruction via png_pixels — the
    feature row reports true dimensions/channels) and canonical WAV
    (header arithmetic → true duration). Other containers (JPEG/MP4/...)
    genuinely need codec libraries this environment does not ship, so they
    raise NotImplementedError with the plug-in contract: pass decode_fn=
    (bytes -> dict(media_type, width, height, n_channels, duration_ms))
    backed by PIL/libav."""
    if payload.startswith(_PNG_SIG):
        w, h, ch, _ = png_pixels(payload)
        return {
            "media_type": "image/png",
            "width": w,
            "height": h,
            "n_channels": ch,
            "duration_ms": None,
        }
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE" and len(payload) >= 44:
        channels = int.from_bytes(payload[22:24], "little")
        rate = int.from_bytes(payload[24:28], "little")
        bits = int.from_bytes(payload[34:36], "little")
        data_size = int.from_bytes(payload[40:44], "little")
        bps = rate * channels * bits / 8
        return {
            "media_type": "audio/wav",
            "width": None,
            "height": None,
            "n_channels": channels,
            "duration_ms": round(data_size * 1000 / bps) if bps else None,
        }
    raise NotImplementedError(
        "no stdlib codec for this container; pass decode_fn=... with "
        "signature bytes -> dict(media_type, width, height, n_channels, "
        "duration_ms)"
    )


def auto_decode(payload: bytes) -> dict:
    """Default decoder: real stdlib decode where possible (valid PNG/WAV),
    deterministic fake features otherwise — so the same pipeline runs over
    mixed/synthetic corpora in a codec-less container. Payloads that only
    LOOK like a known container (magic prefix, garbage body — e.g. the
    synthetic fixtures) also fall back to fake features rather than
    failing the batch; strict pipelines pass decode_fn=real_decode to
    surface corruption instead."""
    import zlib

    try:
        return real_decode(payload)
    except (NotImplementedError, ValueError, zlib.error, struct_error):
        return fake_decode(payload)


def fake_decode(payload: bytes) -> dict:
    """Deterministic pseudo-decoder: stable features derived from a sha1 of
    the payload. Keeps the full mapInPandas pipeline testable (exact
    expected values) without codecs; clearly NOT real pixel data."""
    h = hashlib.sha1(payload).digest()
    return {
        "media_type": "fake/decoded",
        "width": 16 + h[0] % 240,
        "height": 16 + h[1] % 240,
        "n_channels": 1 + h[2] % 4,
        "duration_ms": int.from_bytes(h[3:5], "big"),
    }


def decode_media_features(
    df: DataFrame,
    payload_col: str,
    id_col: str,
    decode_fn: Callable[[bytes], dict] | None = None,
) -> DataFrame:
    """payload → typed feature row via Arrow-batched mapInPandas.

    One output row per input row; the decoder sees raw bytes, the executor
    streams pandas batches — the canonical shape for CPU-bound per-item
    Python (decode, embed, OCR) at cluster scale.

    Default decoder is auto_decode: REAL stdlib decode for valid PNG/WAV
    payloads (true dimensions/channels/duration), deterministic fake
    features for everything else. Pass decode_fn=real_decode to fail on
    undecodable payloads, or a library-backed callable for full coverage."""
    decode = decode_fn or auto_decode

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            feats = [decode(bytes(b)) for b in pdf[payload_col]]
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].astype("int64"),
                    "media_type": [f["media_type"] for f in feats],
                    # nullable Int32 (capital I): real decoders return None
                    # for inapplicable fields (duration of an image,
                    # width of an audio clip)
                    "width": pd.array([f["width"] for f in feats], dtype="Int32"),
                    "height": pd.array([f["height"] for f in feats], dtype="Int32"),
                    "n_channels": pd.array(
                        [f["n_channels"] for f in feats], dtype="Int32"
                    ),
                    "duration_ms": pd.array(
                        [f["duration_ms"] for f in feats], dtype="Int32"
                    ),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(run, MEDIA_FEATURES_SCHEMA)
