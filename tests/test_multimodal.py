"""Byte-level guarantees of the synthetic image codec that the SQL
oracle can't express: corrupt-payload rejection and round-trip."""

from __future__ import annotations

import struct

import pytest

from meta_iterative_mapreduce_spark.operators.multimodal import (
    _MAGIC,
    decode_image_features,
    decode_synthetic_image,
)


def _pack(w: int, h: int, pixels: bytes) -> bytes:
    return struct.pack(">4sHH", _MAGIC, w, h) + pixels


def test_decode_round_trip():
    pix = bytes(range(12))
    out = decode_synthetic_image(_pack(4, 3, pix))
    assert out == {
        "width": 4,
        "height": 3,
        "n_pixels": 12,
        "mean_intensity": sum(pix) / 12,
    }


def test_decode_rejects_bad_magic():
    with pytest.raises(ValueError, match="bad magic"):
        decode_synthetic_image(b"JUNK" + b"\x00" * 16)


def test_decode_rejects_truncated_pixel_plane():
    with pytest.raises(ValueError, match="truncated"):
        decode_synthetic_image(_pack(4, 3, b"\x01\x02"))


def test_decode_zero_area_image():
    assert decode_synthetic_image(_pack(0, 5, b""))["mean_intensity"] == 0.0


def test_injection_point_routes_mimg_to_synthetic_parser():
    assert decode_image_features(_pack(2, 2, b"abcd"))["n_pixels"] == 4
    # PNG, JPEG, and (since round 6) WebP route to real decoders
    # (corrupt → ValueError, not NotImplementedError); only genuinely
    # codec-less formats (AVIF/HEIC/...) hit the Pillow injection point
    with pytest.raises(ValueError):
        decode_image_features(b"\x89PNG\r\n\x1a\n" + b"\x00" * 8)
    with pytest.raises(ValueError):
        decode_image_features(b"\xff\xd8" + b"\x00" * 8)
    with pytest.raises(ValueError):
        decode_image_features(b"RIFF\x00\x00\x00\x00WEBP" + b"\x00" * 4)
    avif = b"\x00\x00\x00\x18ftypavif" + b"\x00" * 8
    with pytest.raises(NotImplementedError):
        decode_image_features(avif)


# ---------------------------------------------------------------------------
# PNG codec (pure stdlib): spec-level guarantees the SQL oracle can't see
# ---------------------------------------------------------------------------

import random

from meta_iterative_mapreduce_spark.operators.multimodal import (  # noqa: E402
    encode_png_gray8,
    decode_png_gray8,
)


def test_png_round_trip_every_filter_type():
    """The decoder reconstructs exact pixels for scanlines encoded with
    each of the five PNG filter types (None/Sub/Up/Average/Paeth) —
    i.e. it decodes grayscale-8 PNGs from any writer, not just ours."""
    rng = random.Random(7)
    for ft in range(5):
        for (w, h) in [(1, 1), (4, 3), (16, 64), (13, 7)]:
            pix = bytes(rng.randrange(256) for _ in range(w * h))
            f = decode_png_gray8(encode_png_gray8(w, h, pix, filter_type=ft))
            assert f["pixels"] == pix
            assert (f["width"], f["height"], f["n_pixels"]) == (w, h, w * h)


def test_png_rejects_bad_signature_crc_and_truncation():
    png = encode_png_gray8(4, 4, bytes(range(16)))
    with pytest.raises(ValueError, match="signature"):
        decode_png_gray8(b"XXXX" + png[4:])
    bad = bytearray(png)
    bad[20] ^= 0xFF  # flip a bit inside IHDR
    with pytest.raises(ValueError, match="CRC"):
        decode_png_gray8(bytes(bad))
    with pytest.raises(ValueError, match="truncated"):
        decode_png_gray8(png[:30])


def test_png_rejects_out_of_scope_color_types():
    import struct as _s
    import zlib as _z

    # hand-build an RGB (color type 2) IHDR: out of grayscale-8 scope
    ihdr = _s.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    chunk = (
        _s.pack(">I", len(ihdr))
        + b"IHDR"
        + ihdr
        + _s.pack(">I", _z.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
    )
    with pytest.raises(NotImplementedError, match="grayscale"):
        decode_png_gray8(b"\x89PNG\r\n\x1a\n" + chunk)


def test_injection_point_routes_png_to_stdlib_decoder():
    png = encode_png_gray8(3, 2, bytes([10, 20, 30, 40, 50, 60]))
    f = decode_image_features(png)
    assert f == {
        "width": 3,
        "height": 2,
        "n_pixels": 6,
        "mean_intensity": 35.0,
    }


# ---------------------------------------------------------------------------
# WAV codec (pure stdlib): container-level guarantees
# ---------------------------------------------------------------------------

from meta_iterative_mapreduce_spark.operators.multimodal import (  # noqa: E402
    encode_wav_pcm16,
    decode_wav_pcm16,
)


def test_wav_round_trip_including_negative_samples():
    samples = [0, 1, -1, 32767, -32768, 12345, -12345]
    f = decode_wav_pcm16(encode_wav_pcm16(samples))
    assert f["n_samples"] == len(samples)
    assert f["sample_rate"] == 8000
    assert f["sum_sq"] == sum(s * s for s in samples)


def test_wav_rejects_corrupt_containers():
    wav = encode_wav_pcm16([1, 2, 3])
    with pytest.raises(ValueError, match="RIFF"):
        decode_wav_pcm16(b"XXXX" + wav[4:])
    with pytest.raises(ValueError, match="length mismatch"):
        decode_wav_pcm16(wav + b"\x00")
    with pytest.raises(ValueError, match="truncated"):
        # shrink the container so the data chunk body is cut off,
        # keeping the RIFF length consistent with the new size
        import struct as _s

        cut = wav[:-2]
        cut = cut[:4] + _s.pack("<I", len(cut) - 8) + cut[8:]
        decode_wav_pcm16(cut)


def test_wav_rejects_out_of_scope_formats():
    import struct as _s

    # stereo fmt chunk: out of the mono PCM16/G.711 scope (empty data
    # chunk present so the walk completes and the format guard fires)
    fmt = _s.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
    body = b"WAVE" + b"fmt " + _s.pack("<I", len(fmt)) + fmt
    body += b"data" + _s.pack("<I", 0)
    wav = b"RIFF" + _s.pack("<I", len(body)) + body
    with pytest.raises(NotImplementedError, match="mono PCM16"):
        decode_wav_pcm16(wav)


# --- perceptual average hash (q_multimodal_phash) ---


def _mimg(w: int, h: int, pix: bytes) -> bytes:
    import struct as _s

    return b"MIMG" + _s.pack(">HH", w, h) + pix


def test_ahash_photometric_invariance():
    """aHash must be EXACTLY invariant under brightness shift and
    contrast scaling (the integer cross-multiply bit rule cancels
    both) — the perceptual property that makes bucket-dedup robust to
    re-encoded variants of the same image."""
    import random

    from meta_iterative_mapreduce_spark.operators.multimodal import ahash_16

    rng = random.Random(3)
    for w, h in [(4, 4), (7, 5), (16, 64), (5, 9)]:
        pix = [rng.randrange(100) for _ in range(w * h)]
        base = ahash_16(_mimg(w, h, bytes(pix)))
        shifted = ahash_16(_mimg(w, h, bytes(p + 37 for p in pix)))
        scaled = ahash_16(_mimg(w, h, bytes(p * 2 for p in pix)))
        assert base == shifted == scaled


def test_ahash_separates_structural_change():
    """Moving the bright mass from the top row to the bottom row must
    flip the hash (it is a structural, not photometric, edit)."""
    from meta_iterative_mapreduce_spark.operators.multimodal import ahash_16

    w, h = 8, 8
    top = bytes([200] * w + [10] * (w * (h - 1)))
    bot = bytes([10] * (w * (h - 1)) + [200] * w)
    assert ahash_16(_mimg(w, h, top)) != ahash_16(_mimg(w, h, bot))


# --- baseline JPEG codec (q_multimodal_decode_jpeg) ---


def test_jpeg_round_trip_quality_and_dims():
    """Round trip through the real JPEG entropy coder: dims exact,
    per-pixel error bounded by quantization (noise images are the
    worst case), mean error < 3.0 (the oracle flag bound)."""
    import random

    import numpy as np

    from meta_iterative_mapreduce_spark.operators.multimodal import (
        decode_jpeg_gray,
        encode_jpeg_gray,
    )

    rng = random.Random(13)
    for w, h in [(8, 8), (13, 7), (16, 64), (4, 4), (1, 1), (9, 23)]:
        pix = bytes(rng.randrange(256) for _ in range(w * h))
        d = decode_jpeg_gray(encode_jpeg_gray(w, h, pix))
        assert (d["width"], d["height"]) == (w, h)
        src = np.frombuffer(pix, dtype=np.uint8).reshape(h, w).astype(float)
        dec = d["pixels"].astype(float)
        assert abs(src.mean() - dec.mean()) < 3.0
        # per-pixel error bounded by the quantization tables (loose cap)
        assert np.abs(src - dec).max() <= 255


def test_jpeg_decoder_rejects_corrupt_input():
    import struct as _s

    import pytest

    from meta_iterative_mapreduce_spark.operators.multimodal import (
        decode_jpeg_gray,
        encode_jpeg_gray,
    )

    good = encode_jpeg_gray(8, 8, bytes(range(64)))
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg_gray(b"XX" + good[2:])
    # truncate inside entropy data: huffman or bit reader must fail
    with pytest.raises(ValueError):
        decode_jpeg_gray(good[:-20])
    # progressive SOF2 must be refused, not mis-decoded
    prog = good.replace(b"\xFF\xC0", b"\xFF\xC2", 1)
    with pytest.raises(NotImplementedError):
        decode_jpeg_gray(prog)


def test_jpeg_decoder_reads_tables_from_stream():
    """The decoder must honor the DQT embedded in the stream: doubling
    the quantization table in the file changes (coarsens) the decoded
    output even though the entropy data is untouched proves tables are
    parsed, not assumed."""
    import numpy as np

    from meta_iterative_mapreduce_spark.operators.multimodal import (
        QTAB,
        ZIGZAG,
        decode_jpeg_gray,
        encode_jpeg_gray,
    )

    pix = bytes((x * 7 + 13) % 256 for x in range(16 * 16))
    good = encode_jpeg_gray(16, 16, pix)
    qz = bytes(int(QTAB.ravel()[ZIGZAG][i]) for i in range(64))
    doubled = bytes(min(255, 2 * b) for b in qz)
    assert good.count(qz) == 1
    tampered = good.replace(qz, doubled, 1)
    a = decode_jpeg_gray(good)["pixels"].astype(int)
    b = decode_jpeg_gray(tampered)["pixels"].astype(int)
    assert (a != b).any()
    assert abs(b.mean() - a.mean() * 2) > 1  # DC scaled by the table


# --- baseline COLOR JPEG codec (q_multimodal_decode_jpeg_color) ---


def test_jpeg_color_round_trip_quality_and_dims():
    """YCbCr 4:2:0 round trip: exact dims at awkward (non-16-multiple)
    sizes, per-channel mean preserved within the documented bound, and
    smooth gradients reconstructed with low RMSE (noise images only
    get the mean bound — JPEG cannot represent noise at Annex K
    quant)."""
    import numpy as np

    from meta_iterative_mapreduce_spark.operators.multimodal import (
        _JPEG_COLOR_MEAN_BOUND,
        decode_jpeg_color,
        encode_jpeg_color,
    )

    rng = np.random.RandomState(11)
    for w, h in [(16, 16), (17, 19), (4, 6), (33, 14), (5, 5)]:
        xx, yy = np.meshgrid(np.arange(w), np.arange(h))
        smooth = np.stack(
            [(xx * 3 + yy * 2) % 256, (xx * 5) % 256, (yy * 7) % 256], 2
        ).astype(np.uint8)
        noise = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
        for img in (smooth, noise):
            d = decode_jpeg_color(encode_jpeg_color(w, h, img.tobytes()))
            assert (d["width"], d["height"]) == (w, h)
            dec = d["pixels"].astype(np.float64)
            src = img.astype(np.float64)
            for c in range(3):
                assert (
                    abs(dec[..., c].mean() - src[..., c].mean())
                    < _JPEG_COLOR_MEAN_BOUND
                )
        d = decode_jpeg_color(encode_jpeg_color(w, h, smooth.tobytes()))
        rmse = np.sqrt(
            ((d["pixels"].astype(np.float64) - smooth.astype(np.float64)) ** 2).mean()
        )
        assert rmse < 12.0, (w, h, rmse)


def test_jpeg_color_decoder_reads_grayscale_and_444_streams():
    """The color decoder parses sampling factors FROM the stream: a
    1-component baseline stream decodes to replicated-gray RGB that
    matches the dedicated gray decoder exactly."""
    import numpy as np

    from meta_iterative_mapreduce_spark.operators.multimodal import (
        decode_jpeg_color,
        decode_jpeg_gray,
        encode_jpeg_gray,
    )

    rng = np.random.RandomState(3)
    pix = rng.randint(0, 256, (20, 13), dtype=np.uint8)
    stream = encode_jpeg_gray(13, 20, pix.tobytes())
    gray = decode_jpeg_gray(stream)["pixels"]
    color = decode_jpeg_color(stream)["pixels"]
    assert color.shape == (20, 13, 3)
    assert (color[..., 0] == gray).all()
    assert (color[..., 1] == gray).all()


def test_jpeg_color_flat_image_within_dc_quant_error():
    """A flat color field has only DC energy, so every pixel must land
    within the analytic DC-quantization bound: Y err <= 16/16 = 1.0,
    chroma err <= 17/16, worst RGB mix 1 + 1.772*17/16 < 2.9 -> 3
    (catches DC-prediction bugs across the interleaved 3-component MCU
    scan, which would blow this up by the full DC magnitude)."""
    import numpy as np

    from meta_iterative_mapreduce_spark.operators.multimodal import (
        decode_jpeg_color,
        encode_jpeg_color,
    )

    img = np.full((24, 40, 3), 0, np.uint8)
    img[..., 0], img[..., 1], img[..., 2] = 200, 100, 50
    d = decode_jpeg_color(encode_jpeg_color(40, 24, img.tobytes()))
    diff = np.abs(d["pixels"].astype(int) - img.astype(int)).max()
    assert diff <= 3, diff


def test_jpeg_color_restart_markers_round_trip():
    """DRI/RSTn streams (what libjpeg/camera writers emit for error
    resilience) must decode to EXACTLY the pixels of the plain stream:
    restarts change entropy-stream framing (byte alignment + DC
    predictor resets), never content. Also pins the gray decoder's
    explicit restart scope guard."""
    import numpy as np

    from meta_iterative_mapreduce_spark.operators.multimodal import (
        decode_jpeg_color,
        decode_jpeg_gray,
        encode_jpeg_color,
    )

    rng = np.random.RandomState(9)
    for w, h, ri in [(33, 37, 1), (17, 19, 3), (64, 48, 5)]:
        rgb = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
        plain = decode_jpeg_color(encode_jpeg_color(w, h, rgb.tobytes()))
        rst_stream = encode_jpeg_color(
            w, h, rgb.tobytes(), restart_interval=ri
        )
        assert b"\xff\xdd" in rst_stream and b"\xff\xd0" in rst_stream
        rst = decode_jpeg_color(rst_stream)
        assert (rst["pixels"] == plain["pixels"]).all(), (w, h, ri)
    # the gray decoder refuses DRI streams via scope guards (the
    # 3-component guard fires first on color input; a 1-component DRI
    # stream would hit the explicit restart guard)
    with pytest.raises(NotImplementedError):
        decode_jpeg_gray(rst_stream)


def test_g711_tables_match_itu_reference_points():
    """Spot-pin the expansion tables against the published CCITT
    reference values (the same numbers every telephony stack ships)."""
    from meta_iterative_mapreduce_spark.operators.multimodal import (
        _ALAW2LIN,
        _ULAW2LIN,
    )

    # mu-law: 0x00 = -32124, 0x80 = +32124, both zero codes decode 0
    assert _ULAW2LIN[0x00] == -32124 and _ULAW2LIN[0x80] == 32124
    assert _ULAW2LIN[0x7F] == 0 and _ULAW2LIN[0xFF] == 0
    assert _ULAW2LIN[0x01] == -31100 and _ULAW2LIN[0x81] == 31100
    # A-law: 0x55 = -8 (smallest), 0xD5 = +8, 0x2A = -32256 (largest)
    assert _ALAW2LIN[0x55] == -8 and _ALAW2LIN[0xD5] == 8
    assert min(_ALAW2LIN) == -32256 and max(_ALAW2LIN) == 32256
    # both tables are odd-symmetric under the sign bit
    for c in range(128):
        assert _ULAW2LIN[c] == -_ULAW2LIN[c | 0x80]
        assert _ALAW2LIN[c] == -_ALAW2LIN[c | 0x80]


def test_wav_g711_round_trip_code_exact():
    """G.711 WAV: every code byte written must decode to exactly its
    table expansion, for both laws, through the full container."""
    from meta_iterative_mapreduce_spark.operators.multimodal import (
        _ALAW2LIN,
        _ULAW2LIN,
        decode_wav_pcm16,
        encode_wav_g711,
    )

    codes = bytes(range(256))
    for law, table in (("ulaw", _ULAW2LIN), ("alaw", _ALAW2LIN)):
        f = decode_wav_pcm16(encode_wav_g711(codes, law))
        assert f["n_samples"] == 256
        # samples decode vectorized to an int64 numpy array (r14)
        assert tuple(int(s) for s in f["samples"]) == table
        assert f["sum_sq"] == sum(v * v for v in table)


def test_wav_unsupported_format_still_guarded():
    import struct

    from meta_iterative_mapreduce_spark.operators.multimodal import (
        decode_wav_pcm16,
        encode_wav_g711,
    )

    wav = bytearray(encode_wav_g711(b"\x00\x01", "ulaw"))
    at = wav.find(b"fmt ") + 8
    struct.pack_into("<H", wav, at, 3)  # IEEE float: out of scope
    with pytest.raises(NotImplementedError):
        decode_wav_pcm16(bytes(wav))


def test_png_adam7_round_trip_all_filters():
    """Adam7 interlace: seven independently-filtered sub-images on
    the 8x8 pass grid, every filter type, awkward dims (passes
    empty / single-pixel)."""
    import os as _os

    from meta_iterative_mapreduce_spark.operators.multimodal import (
        decode_png_gray8,
        encode_png_gray8,
    )

    rng = __import__("random").Random(7)
    for w, h in [(1, 1), (2, 2), (7, 11), (8, 8), (9, 17), (3, 40)]:
        pix = bytes(rng.randrange(256) for _ in range(w * h))
        for ft in range(5):
            f = decode_png_gray8(
                encode_png_gray8(w, h, pix, filter_type=ft, interlace=True)
            )
            assert f["pixels"] == pix, (w, h, ft)


def test_png_adam7_truncated_pass_detected():
    import struct as _s
    import zlib as _z

    from meta_iterative_mapreduce_spark.operators.multimodal import (
        _png_chunk,
        _PNG_SIG,
        decode_png_gray8,
        encode_png_gray8,
    )

    png = encode_png_gray8(9, 9, bytes(81), interlace=True)
    # rebuild with the last 8 inflated bytes missing
    ihdr = png[8 + 8 : 8 + 8 + 13]
    start = png.find(b"IDAT") + 4
    (ln,) = _s.unpack(">I", png[png.find(b"IDAT") - 4 : png.find(b"IDAT")])
    raw = _z.decompress(png[start : start + ln])
    bad = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _z.compress(raw[:-8]))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="Adam7"):
        decode_png_gray8(bad)


def test_jpeg_entropy_vectorized():
    """The vectorized entropy coder (symbol streams + one numpy
    bit-packing pass) must be byte-identical to the scalar
    _BitWriter/_entropy_encode_block reference — per frame, per
    restart segment (DC predictors reset, RSTn joins), and across a
    frame stack."""
    import numpy as np

    from meta_iterative_mapreduce_spark.operators import multimodal as M

    rng = np.random.RandomState(5)
    for _ in range(12):
        w, h = int(rng.randint(1, 40)), int(rng.randint(1, 40))
        pix = rng.randint(0, 256, size=w * h, dtype=np.uint8)
        img = pix.reshape(h, w).astype(np.float64)
        H8, W8 = -(-h // 8) * 8, -(-w // 8) * 8
        padded = np.pad(img, ((0, H8 - h), (0, W8 - w)), mode="edge") - 128.0
        zz = M._quantized_zigzag_blocks(padded, M.QTAB)
        bw = M._BitWriter()
        prev = 0
        for by in range(H8 // 8):
            for bx in range(W8 // 8):
                prev = M._entropy_encode_block(
                    bw, zz[by, bx], prev, M.DC_ENC, M.AC_ENC
                )
        scalar = bw.flush()
        flat = zz.reshape(-1, 64)
        nb = flat.shape[0]
        vec = M._pack_entropy_batch(
            [
                M._component_symbols(
                    flat, M._LUMA_TABS, np.arange(nb, dtype=np.int64),
                )
            ],
            nb,
            1,
        )[0]
        assert vec == scalar
    # restart intervals: the scalar MCU loop with RSTn markers
    for w, h, ri in [(1, 1, 1), (33, 37, 1), (17, 19, 3), (64, 48, 5),
                     (40, 40, 4), (9, 30, 100)]:
        rgb = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
        img = rgb.astype(np.float64)
        r, g, b = img[..., 0], img[..., 1], img[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        H16, W16 = -(-h // 16) * 16, -(-w // 16) * 16
        pad = ((0, H16 - h), (0, W16 - w))
        yzz = M._quantized_zigzag_blocks(np.pad(y, pad, mode="edge") - 128.0, M.QTAB)
        cbzz = M._quantized_zigzag_blocks(
            M._box2x2(np.pad(cb, pad, mode="edge")) - 128.0, M.CQTAB
        )
        crzz = M._quantized_zigzag_blocks(
            M._box2x2(np.pad(cr, pad, mode="edge")) - 128.0, M.CQTAB
        )
        bw = M._BitWriter()
        prev = [0, 0, 0]
        mcu_i = 0
        for my in range(H16 // 16):
            for mx in range(W16 // 16):
                if mcu_i and mcu_i % ri == 0:
                    bw.restart_marker(mcu_i // ri - 1)
                    prev = [0, 0, 0]
                mcu_i += 1
                for dy, dx in ((0, 0), (0, 1), (1, 0), (1, 1)):
                    prev[0] = M._entropy_encode_block(
                        bw, yzz[2 * my + dy, 2 * mx + dx], prev[0],
                        M.DC_ENC, M.AC_ENC,
                    )
                prev[1] = M._entropy_encode_block(
                    bw, cbzz[my, mx], prev[1], M.CDC_ENC, M.CAC_ENC
                )
                prev[2] = M._entropy_encode_block(
                    bw, crzz[my, mx], prev[2], M.CDC_ENC, M.CAC_ENC
                )
        scalar = M._jfif_color_header(w, h, ri) + bw.flush() + b"\xFF\xD9"
        assert M.encode_jpeg_color(w, h, rgb.tobytes(), ri) == scalar, (w, h, ri)
    stack = rng.randint(0, 256, size=(7, 19, 11, 3), dtype=np.uint8)
    assert M.encode_jpeg_color_batch(11, 19, stack) == [
        M.encode_jpeg_color(11, 19, f.tobytes()) for f in stack
    ]
    # and the decoder round-trips the vectorized stream exactly
    d = M.decode_jpeg_color(M.encode_jpeg_color_batch(11, 19, stack)[3])
    assert (d["width"], d["height"]) == (11, 19)


def test_jpeg_single_component_scan_is_non_interleaved():
    """A one-component scan has one block per MCU (ITU T.81 A.2.2)
    whatever its SOF sampling factors: declaring 2x2 sampling on a
    gray stream must not change the decoded pixels, in either
    decoder."""
    import numpy as np

    from meta_iterative_mapreduce_spark.operators.multimodal import (
        decode_jpeg_color,
        decode_jpeg_gray,
        encode_jpeg_gray,
    )

    rng = np.random.RandomState(4)
    pix = rng.randint(0, 256, (21, 35), dtype=np.uint8)
    stream = encode_jpeg_gray(35, 21, pix.tobytes())
    sof = stream.index(b"\xff\xc0")
    # SOF0: marker, length(2), precision, height(2), width(2), Nf,
    # then component id and the sampling-factor byte
    samp = sof + 2 + 2 + 1 + 4 + 1 + 1
    assert stream[samp] == 0x11
    resampled = stream[:samp] + b"\x22" + stream[samp + 1 :]
    want = decode_jpeg_gray(stream)["pixels"]
    assert (decode_jpeg_gray(resampled)["pixels"] == want).all()
    assert (decode_jpeg_color(resampled)["pixels"][..., 0] == want).all()
