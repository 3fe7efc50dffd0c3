"""Tests for binary/multimodal column operators (mapInPandas plumbing runs
with a deterministic fake decoder — no codecs in this container)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from opendosm_parquet_to_sqlite_spark.operators import multimodal


@pytest.fixture()
def media(spark):
    rows = [
        (0, b"\x89PNG\r\n\x1a\nrest-of-png"),
        (1, b"\xff\xd8\xff\xe0JFIFjpegbody"),
        (2, b"GIF89a-tiny"),
        (3, b"RIFF\x00\x00\x00\x00WAVEfmt "),
        (4, b"\x00\x00\x00\x18ftypmp42moreatoms"),
        (5, b"just plain bytes"),
    ]
    return spark.createDataFrame(rows, ["id", "payload"])


def test_sniff_media_type(spark, media):
    got = {
        r["id"]: r["mt"]
        for r in media.select(
            "id", multimodal.sniff_media_type(F.col("payload")).alias("mt")
        ).collect()
    }
    assert got == {
        0: "image/png",
        1: "image/jpeg",
        2: "image/gif",
        3: "audio/wav",
        4: "video/mp4",
        5: "application/octet-stream",
    }


def test_payload_metadata(spark, media):
    out = {r["id"]: r for r in
           multimodal.payload_metadata(media, "payload").collect()}
    raw = {r["id"]: bytes(r["payload"]) for r in media.collect()}
    for i, b in raw.items():
        assert out[i]["n_bytes"] == len(b)
        assert out[i]["digest"] == hashlib.md5(b).hexdigest()


def test_decode_media_features_fake_decoder(spark, media):
    out = {r["id"]: r for r in
           multimodal.decode_media_features(media, "payload", "id").collect()}
    assert set(out) == set(range(6))
    # exact expected values from the deterministic fake
    for i, b in {r["id"]: bytes(r["payload"]) for r in media.collect()}.items():
        exp = multimodal.fake_decode(b)
        got = out[i]
        assert (got["width"], got["height"], got["n_channels"], got["duration_ms"]) == (
            exp["width"], exp["height"], exp["n_channels"], exp["duration_ms"]
        )
        assert got["media_type"] == "fake/decoded"


# --- real PNG decode (stdlib zlib + filter reconstruction) --------------------


def _encode_png(pixels: bytes, w: int, h: int, channels: int,
                filters: list[int]) -> bytes:
    """Tiny pure-Python PNG ENCODER (the reference for pixel-exact
    round-trips): applies the requested filter type per scanline (cycling),
    so decoding exercises every filter the spec defines."""
    import struct
    import zlib

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data)))

    color = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    stride = w * channels
    out = bytearray()
    prev = bytearray(stride)
    for y in range(h):
        line = bytearray(pixels[y * stride:(y + 1) * stride])
        f = filters[y % len(filters)]
        enc = bytearray(stride)
        for i in range(stride):
            a = line[i - channels] if i >= channels else 0
            b = prev[i]
            c = prev[i - channels] if i >= channels else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            enc[i] = (line[i] - pred) & 0xFF
        out += bytes([f]) + bytes(enc)
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(out)))
            + chunk(b"IEND", b""))


def _test_pixels(w: int, h: int, channels: int) -> bytes:
    # gradient + structure so Sub/Up/Average/Paeth all produce distinct
    # residuals (an all-constant image would not catch filter bugs)
    return bytes(
        (x * 7 + y * 13 + c * 29 + (x * y) % 11) % 256
        for y in range(h) for x in range(w) for c in range(channels)
    )


@pytest.mark.parametrize("channels", [1, 2, 3, 4])
def test_png_pixel_exact_roundtrip_all_filters(channels):
    """decode(encode(px)) == px for every color type, with scanlines using
    ALL FIVE filter types (cycling 0..4)."""
    w, h = 13, 11  # odd sizes: no accidental stride alignment
    px = _test_pixels(w, h, channels)
    payload = _encode_png(px, w, h, channels, filters=[0, 1, 2, 3, 4])
    gw, gh, gch, gpx = multimodal.png_pixels(payload)
    assert (gw, gh, gch) == (w, h, channels)
    assert gpx == px


@pytest.mark.parametrize("flt", [0, 1, 2, 3, 4])
def test_png_single_filter_variants(flt):
    w, h = 8, 5
    px = _test_pixels(w, h, 3)
    _, _, _, gpx = multimodal.png_pixels(_encode_png(px, w, h, 3, [flt]))
    assert gpx == px


def test_png_multiple_idat_chunks():
    """Spec allows the zlib stream split across many IDAT chunks."""
    import struct
    import zlib

    w, h = 6, 4
    px = _test_pixels(w, h, 3)
    whole = _encode_png(px, w, h, 3, [4])
    # re-split: parse out the single IDAT and split its payload into
    # 7-byte chunks
    sig, rest = whole[:8], whole[8:]
    chunks = []
    pos = 0
    while pos < len(rest):
        ln, ct = struct.unpack(">I4s", rest[pos:pos + 8])
        chunks.append((ct, rest[pos + 8:pos + 8 + ln]))
        pos += 12 + ln
    out = sig
    for ct, data in chunks:
        if ct == b"IDAT":
            for i in range(0, len(data), 7):
                piece = data[i:i + 7]
                out += (struct.pack(">I", len(piece)) + b"IDAT" + piece
                        + struct.pack(">I", zlib.crc32(b"IDAT" + piece)))
        else:
            out += (struct.pack(">I", len(data)) + ct + data
                    + struct.pack(">I", zlib.crc32(ct + data)))
    _, _, _, gpx = multimodal.png_pixels(out)
    assert gpx == px


def test_real_decode_png_true_features():
    payload = _encode_png(_test_pixels(20, 10, 4), 20, 10, 4, [2, 4])
    feats = multimodal.real_decode(payload)
    assert feats == {"media_type": "image/png", "width": 20, "height": 10,
                     "n_channels": 4, "duration_ms": None}


def test_real_decode_wav_true_duration():
    feats = multimodal.real_decode(
        _wav_bytes(channels=2, rate=44100, bits=16, n_frames=44100)
    )
    assert feats["media_type"] == "audio/wav"
    assert feats["n_channels"] == 2
    assert feats["duration_ms"] == 1000
    assert feats["width"] is None and feats["height"] is None


def test_real_decode_needs_codec_for_jpeg():
    with pytest.raises(NotImplementedError, match="decode_fn"):
        multimodal.real_decode(b"\xff\xd8\xff\xe0JFIFjpegbody")


def _encode_palette_png(indices: list[int], w: int, h: int, depth: int,
                        palette: bytes, filters: list[int],
                        trns: bytes | None = None) -> bytes:
    """Palette-PNG encoder twin of _encode_png: packs indices MSB-first at
    the given bit depth, filters each packed scanline (bpp=1), and writes
    PLTE (+ optional tRNS)."""
    import struct
    import zlib

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data)))

    per_byte = 8 // depth
    stride = (w * depth + 7) // 8
    out = bytearray()
    prev = bytearray(stride)
    for y in range(h):
        packed = bytearray(stride)
        for x in range(w):
            shift = 8 - depth * (x % per_byte + 1)
            packed[x // per_byte] |= indices[y * w + x] << shift
        f = filters[y % len(filters)]
        enc = bytearray(stride)
        for i in range(stride):
            a = packed[i - 1] if i >= 1 else 0
            b = prev[i]
            c = prev[i - 1] if i >= 1 else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            enc[i] = (packed[i] - pred) & 0xFF
        out += bytes([f]) + bytes(enc)
        prev = packed
    ihdr = struct.pack(">IIBBBBB", w, h, depth, 3, 0, 0, 0)
    body = chunk(b"IHDR", ihdr) + chunk(b"PLTE", palette)
    if trns is not None:
        body += chunk(b"tRNS", trns)
    body += chunk(b"IDAT", zlib.compress(bytes(out))) + chunk(b"IEND", b"")
    return b"\x89PNG\r\n\x1a\n" + body


@pytest.mark.parametrize("depth", [1, 2, 4, 8])
def test_palette_png_pixel_exact(depth):
    """decode(encode(indices)) == PLTE-expanded RGB at every legal palette
    bit depth, scanlines cycling all five filters; odd width exercises the
    partial final byte of sub-8-bit rows."""
    w, h = 13, 9
    n_entries = 1 << depth
    palette = bytes((i * 37 + c * 11) % 256
                    for i in range(n_entries) for c in range(3))
    indices = [(x * 5 + y * 3) % n_entries for y in range(h) for x in range(w)]
    payload = _encode_palette_png(indices, w, h, depth, palette,
                                  filters=[0, 1, 2, 3, 4])
    gw, gh, gch, gpx = multimodal.png_pixels(payload)
    assert (gw, gh, gch) == (w, h, 3)
    want = b"".join(palette[i * 3:i * 3 + 3] for i in indices)
    assert gpx == want


def test_palette_png_trns_alpha():
    """tRNS adds per-entry alpha; entries past its length default opaque."""
    palette = bytes(range(12))          # 4 RGB entries
    trns = bytes([0, 128])              # alpha for entries 0 and 1 only
    indices = [0, 1, 2, 3]
    payload = _encode_palette_png(indices, 4, 1, 8, palette, [0], trns=trns)
    gw, gh, gch, gpx = multimodal.png_pixels(payload)
    assert (gw, gh, gch) == (4, 1, 4)
    want = bytes([0, 1, 2, 0,  3, 4, 5, 128,  6, 7, 8, 255,  9, 10, 11, 255])
    assert gpx == want


def test_palette_png_real_decode_features():
    palette = bytes(range(48))
    payload = _encode_palette_png([x % 16 for x in range(21 * 7)],
                                  21, 7, 4, palette, [0, 2])
    feats = multimodal.real_decode(payload)
    assert feats == {"media_type": "image/png", "width": 21, "height": 7,
                     "n_channels": 3, "duration_ms": None}


def test_palette_png_bad_index_rejected():
    # 2 entries but depth-8 index 5 → out of range
    payload = _encode_palette_png([0, 5], 2, 1, 8, bytes(6), [0])
    with pytest.raises(ValueError, match="out of range"):
        multimodal.png_pixels(payload)


def test_png_pixels_rejects_unsupported_variants():
    import struct
    import zlib

    def with_ihdr(depth, color, interlace):
        ihdr = struct.pack(">IIBBBBB", 4, 4, depth, color, 0, 0, interlace)
        def chunk(ct, d):
            return (struct.pack(">I", len(d)) + ct + d
                    + struct.pack(">I", zlib.crc32(ct + d)))
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(b"\x00" * 100))
                + chunk(b"IEND", b""))

    with pytest.raises(ValueError, match="PLTE"):
        multimodal.png_pixels(with_ihdr(8, 3, 0))  # palette w/o PLTE chunk
    with pytest.raises(NotImplementedError, match="plug-in"):
        multimodal.png_pixels(with_ihdr(4, 2, 0))  # sub-byte RGB: invalid combo
    with pytest.raises(ValueError, match="IHDR dimensions"):
        multimodal.png_pixels(with_ihdr(8, 2, 1))  # Adam7 w/ wrong IDAT length
    with pytest.raises(ValueError, match="signature"):
        multimodal.png_pixels(b"not a png")


# --- 16-bit depth + Adam7 interlacing ----------------------------------------

_ADAM7 = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]


def _encode_png_full(samples, w, h, channels, depth, filters, interlace=0,
                     plte=None):
    """General reference encoder: any depth (1/2/4/8/16), optional Adam7,
    optional palette (samples are then per-pixel indices, channels=1)."""
    import struct
    import zlib

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data)))

    color = 3 if plte is not None else {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    bpp = max(1, channels * depth // 8)
    passes = _ADAM7 if interlace else [(0, 0, 1, 1)]
    out = bytearray()
    fi = 0
    for x0, y0, dx, dy in passes:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        stride = (pw * channels * depth + 7) // 8
        prev = bytearray(stride)
        for j in range(ph):
            y = y0 + j * dy
            line = bytearray()
            if depth < 8:
                acc, nbits = 0, 0
                for i in range(pw):
                    acc = (acc << depth) | samples[y * w + x0 + i * dx]
                    nbits += depth
                    if nbits == 8:
                        line.append(acc)
                        acc, nbits = 0, 0
                if nbits:
                    line.append(acc << (8 - nbits))
            else:
                for i in range(pw):
                    x = x0 + i * dx
                    for c in range(channels):
                        v = samples[(y * w + x) * channels + c]
                        line += (struct.pack(">H", v) if depth == 16
                                 else bytes([v]))
            f = filters[fi % len(filters)]
            fi += 1
            enc = bytearray(stride)
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                if f == 0:
                    pred = 0
                elif f == 1:
                    pred = a
                elif f == 2:
                    pred = b
                elif f == 3:
                    pred = (a + b) >> 1
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                enc[i] = (line[i] - pred) & 0xFF
            out += bytes([f]) + bytes(enc)
            prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, interlace)
    body = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if plte is not None:
        body += chunk(b"PLTE", plte)
    return body + chunk(b"IDAT", zlib.compress(bytes(out))) + chunk(b"IEND", b"")


def test_png_16bit_reduces_to_high_byte():
    w, h, ch = 9, 5, 3
    samples = [((x * 7919 + 13) % 65536) for x in range(w * h * ch)]
    payload = _encode_png_full(samples, w, h, ch, 16, [0, 1, 2, 3, 4])
    gw, gh, gch, px = multimodal.png_pixels(payload)
    assert (gw, gh, gch) == (w, h, ch)
    assert list(px) == [v >> 8 for v in samples]


@pytest.mark.parametrize("depth,channels", [(8, 3), (8, 1), (16, 4)])
def test_png_adam7_matches_sequential(depth, channels):
    w, h = 13, 9  # exercises partial/empty Adam7 passes
    hi = (1 << depth) - 1
    samples = [((x * 2654435761 + 5) % (hi + 1)) for x in range(w * h * channels)]
    seq = multimodal.png_pixels(
        _encode_png_full(samples, w, h, channels, depth, [0, 1, 2, 3, 4]))
    lace = multimodal.png_pixels(
        _encode_png_full(samples, w, h, channels, depth, [4, 3, 2, 1, 0],
                         interlace=1))
    assert seq == lace
    expected = [v >> 8 for v in samples] if depth == 16 else samples
    assert list(seq[3]) == expected


@pytest.mark.parametrize("depth", [2, 8])
def test_png_adam7_palette(depth):
    w, h = 11, 6
    n = 1 << depth
    plte = bytes((x * 89 + 3) % 256 for x in range(n * 3))
    idx = [(x * 31 + 7) % n for x in range(w * h)]
    seq = multimodal.png_pixels(
        _encode_png_full(idx, w, h, 1, depth, [0, 1, 2], plte=plte))
    lace = multimodal.png_pixels(
        _encode_png_full(idx, w, h, 1, depth, [2, 4, 0], interlace=1,
                         plte=plte))
    assert seq == lace
    assert seq[:3] == (w, h, 3)
    rgb = seq[3]
    for p, i in enumerate(idx):
        assert rgb[p * 3 : p * 3 + 3] == plte[i * 3 : i * 3 + 3]


def test_png_adam7_tiny_image_skips_empty_passes():
    # 2x2: passes 2,3,5 are empty; decoder must not consume scanlines there
    samples = [10, 20, 30, 40]
    out = multimodal.png_pixels(
        _encode_png_full(samples, 2, 2, 1, 8, [0], interlace=1))
    assert out == (2, 2, 1, bytes(samples))


def test_auto_decode_real_for_valid_fake_for_garbage():
    real = multimodal.auto_decode(_encode_png(_test_pixels(5, 5, 3), 5, 5, 3, [1]))
    assert real["media_type"] == "image/png" and real["width"] == 5
    # PNG magic with a garbage body must NOT crash the batch — falls back
    fake = multimodal.auto_decode(b"\x89PNG\r\n\x1a\nrest-of-png")
    assert fake["media_type"] == "fake/decoded"
    assert fake == multimodal.fake_decode(b"\x89PNG\r\n\x1a\nrest-of-png")


def test_decode_media_features_real_png_end_to_end(spark):
    """mapInPandas default path: valid PNGs get TRUE pixel-derived
    dimensions; undecodable payloads get deterministic fake features —
    one mixed batch, no crashes."""
    png = _encode_png(_test_pixels(31, 17, 3), 31, 17, 3, [0, 1, 2, 3, 4])
    wav = _wav_bytes(channels=1, rate=16000, bits=8, n_frames=8000)
    rows = [(0, png), (1, wav), (2, b"\xff\xd8\xff\xe0JFIFjpegbody")]
    df = spark.createDataFrame(rows, "id long, payload binary")
    out = {r["id"]: r for r in
           multimodal.decode_media_features(df, "payload", "id").collect()}
    assert (out[0]["media_type"], out[0]["width"], out[0]["height"],
            out[0]["n_channels"]) == ("image/png", 31, 17, 3)
    assert (out[1]["media_type"], out[1]["n_channels"],
            out[1]["duration_ms"]) == ("audio/wav", 1, 500)
    assert out[2]["media_type"] == "fake/decoded"


def _wav_bytes(channels=2, rate=44100, bits=16, n_frames=44100) -> bytes:
    """Canonical 44-byte PCM WAV header + silent data."""
    import struct

    data_size = n_frames * channels * bits // 8
    return (
        b"RIFF" + struct.pack("<I", 36 + data_size) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, channels, rate,
                                rate * channels * bits // 8,
                                channels * bits // 8, bits)
        + b"data" + struct.pack("<I", data_size) + b"\x00" * min(data_size, 64)
    )


def test_wav_metadata_native_parse(spark):
    df = spark.createDataFrame(
        [
            (1, _wav_bytes(channels=2, rate=44100, bits=16, n_frames=44100)),
            (2, _wav_bytes(channels=1, rate=16000, bits=8, n_frames=8000)),
            (3, b"not a wav at all"),
        ],
        ["id", "payload"],
    )
    out = {r["id"]: r for r in multimodal.wav_metadata(df, "payload").collect()}
    assert (out[1]["wav_channels"], out[1]["wav_sample_rate"],
            out[1]["wav_bits"], out[1]["wav_duration_ms"]) == (2, 44100, 16, 1000)
    assert (out[2]["wav_channels"], out[2]["wav_sample_rate"],
            out[2]["wav_bits"], out[2]["wav_duration_ms"]) == (1, 16000, 8, 500)
    assert out[3]["wav_channels"] is None and out[3]["wav_duration_ms"] is None


def test_binary_from_text_rotating_magic(spark):
    df = spark.createDataFrame(
        [(0, "zero"), (1, "one"), (2, "two")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: bytes(r["payload"]) for r in
           multimodal.binary_from_text(df, "text", "doc_id").collect()}
    assert out[0][:4] == bytes.fromhex("89504E47") and out[0][4:] == b"zero"
    assert out[1][:4] == bytes.fromhex("FFD8FFE0") and out[1][4:] == b"one"
    assert out[2] == b"two"


# --- decode_fn plug-in contract with a real non-stdlib codec -----------------


def test_decode_fn_plugin_jpeg_codec_end_to_end(spark):
    """Integration proof of the plug-in contract: a REAL external-style
    codec (the in-repo baseline-JPEG fixture — the sandbox ships no PIL)
    slots into decode_fn and supplies true JPEG features through the same
    mapInPandas pipeline, chained in front of the stdlib real_decode path
    exactly as a PIL-backed deployment would."""
    from .jpeg_codec import decode_gray_jpeg, encode_gray_jpeg

    def plugin_decode(payload: bytes) -> dict:
        # the documented deployment shape: stdlib containers first, then
        # the external codec for what real_decode raises NotImplemented on
        try:
            return multimodal.real_decode(payload)
        except NotImplementedError:
            w, h, _ = decode_gray_jpeg(payload)
            return {
                "media_type": "image/jpeg",
                "width": w,
                "height": h,
                "n_channels": 1,
                "duration_ms": None,
            }

    jpeg = encode_gray_jpeg(
        [[(x * 3 + y * 5) % 256 for x in range(24)] for y in range(16)]
    )
    png = _encode_png(_test_pixels(9, 7, 3), 9, 7, 3, [2])
    wav = _wav_bytes(channels=2, rate=8000, bits=16, n_frames=4000)
    df = spark.createDataFrame(
        [(0, jpeg), (1, png), (2, wav)], "id long, payload binary"
    )
    out = {
        r["id"]: r
        for r in multimodal.decode_media_features(
            df, "payload", "id", decode_fn=plugin_decode
        ).collect()
    }
    # the JPEG row came through the PLUG-IN, with true dimensions — not
    # fake_decode features, not a stdlib path
    assert (out[0]["media_type"], out[0]["width"], out[0]["height"],
            out[0]["n_channels"]) == ("image/jpeg", 24, 16, 1)
    # stdlib containers still decode through real_decode untouched
    assert (out[1]["media_type"], out[1]["width"]) == ("image/png", 9)
    assert (out[2]["media_type"], out[2]["duration_ms"]) == ("audio/wav", 500)


def test_jpeg_fixture_codec_round_trips_pixels():
    """The fixture codec itself is spec-honest: flat quant=1 baseline
    stream round-trips pixel-exactly (constant block is DC-only exact;
    gradients survive the float DCT/IDCT within rounding)."""
    from .jpeg_codec import decode_gray_jpeg, encode_gray_jpeg

    const = [[100] * 8 for _ in range(8)]
    assert decode_gray_jpeg(encode_gray_jpeg(const)) == (8, 8, const)
    grad = [[(x * 7 + y * 11) % 200 for x in range(10)] for y in range(13)]
    w, h, out = decode_gray_jpeg(encode_gray_jpeg(grad))
    assert (w, h) == (10, 13)
    assert max(
        abs(out[y][x] - grad[y][x]) for y in range(13) for x in range(10)
    ) <= 1
