"""TIFF codec spec-level guarantees: IFD walk in both byte orders,
inline-vs-offset tag values, multi-strip assembly, PackBits framing,
TIFF-LZW EarlyChange widths, honest guards."""

from __future__ import annotations

import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from meta_iterative_mapreduce_spark.operators.codecs import (
    lzw_decode,
    lzw_encode,
    packbits_decode,
)
from meta_iterative_mapreduce_spark.operators.tiff import (
    _packbits_encode,
    decode_tiff_gray8,
    encode_tiff_gray8,
)

TIFF_LZW = {"msb": True, "early_change": True}


@given(data=st.binary(min_size=0, max_size=3000))
@settings(max_examples=120, deadline=None)
def test_tiff_lzw_round_trip_property(data):
    enc = lzw_encode(data, 8, **TIFF_LZW)
    assert lzw_decode(enc, 8, **TIFF_LZW, n_expected=len(data)) == data


@given(data=st.binary(min_size=0, max_size=3000))
@settings(max_examples=120, deadline=None)
def test_packbits_round_trip_property(data):
    assert packbits_decode(_packbits_encode(data), len(data)) == data


def test_lzw_earlychange_boundary():
    # enough distinct material to cross the 511/1023 width boundaries
    data = bytes((i * 7) % 256 for i in range(4000))
    enc = lzw_encode(data, 8, **TIFF_LZW)
    assert lzw_decode(enc, 8, **TIFF_LZW, n_expected=len(data)) == data


def test_container_round_trip_all_compressions():
    px = bytes(range(256)) * 4  # 32x32
    for comp in ("none", "packbits", "lzw"):
        for rps in (1, 5, 32):
            f = decode_tiff_gray8(
                encode_tiff_gray8(32, 32, px, compression=comp,
                                  rows_per_strip=rps)
            )
            assert (f["width"], f["height"]) == (32, 32)
            assert f["pixels"].tobytes() == px


def test_big_endian_file_decodes():
    # hand-build a 2x2 uncompressed MM file: header + pixels + IFD
    px = bytes([1, 2, 3, 4])
    ifd_off = 8 + 4

    def entry(tag, typ, count, value, inline_short=False):
        if inline_short:  # SHORT left-justified in the 4-byte field
            return struct.pack(">HHIHH", tag, typ, count, value, 0)
        return struct.pack(">HHII", tag, typ, count, value)

    entries = [
        entry(256, 3, 1, 2, True),
        entry(257, 3, 1, 2, True),
        entry(258, 3, 1, 8, True),
        entry(259, 3, 1, 1, True),
        entry(262, 3, 1, 1, True),
        entry(273, 4, 1, 8),
        entry(277, 3, 1, 1, True),
        entry(278, 3, 1, 2, True),
        entry(279, 4, 1, 4),
    ]
    tif = (
        b"MM\x00*"
        + struct.pack(">I", ifd_off)
        + px
        + struct.pack(">H", len(entries))
        + b"".join(entries)
        + b"\x00" * 4
    )
    f = decode_tiff_gray8(tif)
    assert f["pixels"].tobytes() == px
    assert f["mean_intensity"] == 2.5


def test_corrupt_and_guards():
    good = encode_tiff_gray8(4, 4, bytes(range(16)))
    with pytest.raises(ValueError):
        decode_tiff_gray8(b"XX" + good[2:])
    with pytest.raises(ValueError):
        decode_tiff_gray8(good[:-8])  # IFD truncated
    # strip offset beyond file
    bad = bytearray(encode_tiff_gray8(4, 4, bytes(range(16)), "none"))
    # tag 273 value field: find the IFD and patch StripOffsets
    (ifd,) = struct.unpack("<I", bad[4:8])
    (n,) = struct.unpack("<H", bad[ifd : ifd + 2])
    for i in range(n):
        o = ifd + 2 + 12 * i
        tag, typ, cnt = struct.unpack("<HHI", bad[o : o + 8])
        if tag == 273:
            struct.pack_into("<I", bad, o + 8, len(bad) + 50)
    with pytest.raises(ValueError, match="beyond"):
        decode_tiff_gray8(bytes(bad))
    # unsupported shapes are honest NotImplementedError
    bad2 = bytearray(encode_tiff_gray8(4, 4, bytes(range(16))))
    (ifd,) = struct.unpack("<I", bad2[4:8])
    (n,) = struct.unpack("<H", bad2[ifd : ifd + 2])
    for i in range(n):
        o = ifd + 2 + 12 * i
        tag = struct.unpack("<H", bad2[o : o + 2])[0]
        if tag == 258:  # BitsPerSample -> 16
            struct.pack_into("<I", bad2, o + 8, 16)
    with pytest.raises(NotImplementedError, match="BitsPerSample"):
        decode_tiff_gray8(bytes(bad2))


def test_whitiszero_inverts():
    tif = bytearray(encode_tiff_gray8(2, 1, bytes([0, 255]), "none"))
    (ifd,) = struct.unpack("<I", tif[4:8])
    (n,) = struct.unpack("<H", tif[ifd : ifd + 2])
    for i in range(n):
        o = ifd + 2 + 12 * i
        if struct.unpack("<H", tif[o : o + 2])[0] == 262:
            struct.pack_into("<I", tif, o + 8, 0)  # WhiteIsZero
    f = decode_tiff_gray8(bytes(tif))
    assert f["pixels"].tobytes() == bytes([255, 0])


def test_dispatcher_routes_tiff():
    from meta_iterative_mapreduce_spark.operators.multimodal import (
        decode_image_features,
    )

    f = decode_image_features(
        encode_tiff_gray8(3, 2, bytes([10, 20, 30, 40, 50, 60]))
    )
    assert f == {
        "width": 3,
        "height": 2,
        "n_pixels": 6,
        "mean_intensity": 35.0,
    }


# --- tiled layout ----------------------------------------------------

def test_tiled_round_trip_all_compressions():
    from meta_iterative_mapreduce_spark.operators.tiff import (
        decode_tiff_gray8,
        encode_tiff_gray8_tiled,
    )

    w, h = 13, 37  # forces 1x3 tiles at 16x16 with ragged edges
    pix = bytes((i * 31) % 256 for i in range(w * h))
    for comp in ("none", "packbits", "lzw"):
        tif = encode_tiff_gray8_tiled(w, h, pix, compression=comp)
        f = decode_tiff_gray8(tif)
        assert (f["width"], f["height"]) == (w, h)
        assert f["pixels"].tobytes() == pix, comp


def test_tiled_multi_column_grid():
    from meta_iterative_mapreduce_spark.operators.tiff import (
        decode_tiff_gray8,
        encode_tiff_gray8_tiled,
    )

    w, h = 40, 20  # 3x2 tile grid at 16x16
    pix = bytes((i * 7 + 3) % 256 for i in range(w * h))
    tif = encode_tiff_gray8_tiled(w, h, pix, compression="lzw")
    assert decode_tiff_gray8(tif)["pixels"].tobytes() == pix


def test_tiled_exact_multiple_no_padding():
    from meta_iterative_mapreduce_spark.operators.tiff import (
        decode_tiff_gray8,
        encode_tiff_gray8_tiled,
    )

    w, h = 32, 16
    pix = bytes(i % 256 for i in range(w * h))
    tif = encode_tiff_gray8_tiled(w, h, pix, compression="packbits")
    assert decode_tiff_gray8(tif)["pixels"].tobytes() == pix


def test_tiled_corrupt_detected():
    import struct as _s

    from meta_iterative_mapreduce_spark.operators.tiff import (
        decode_tiff_gray8,
        encode_tiff_gray8_tiled,
    )

    w, h = 13, 37
    pix = bytes(i % 256 for i in range(w * h))
    tif = bytearray(encode_tiff_gray8_tiled(w, h, pix, compression="none"))
    # find the IFD and corrupt TileWidth (322) to a non-multiple of 16
    (ifd_off,) = _s.unpack("<I", tif[4:8])
    (n,) = _s.unpack("<H", tif[ifd_off : ifd_off + 2])
    for i in range(n):
        o = ifd_off + 2 + 12 * i
        tag, typ, cnt = _s.unpack("<HHI", tif[o : o + 8])
        if tag == 322:
            _s.pack_into("<I", tif, o + 8, 15)
            break
    with pytest.raises(ValueError, match="multiples of 16"):
        decode_tiff_gray8(bytes(tif))
    # tile count disagreeing with the grid
    tif2 = bytearray(encode_tiff_gray8_tiled(w, h, pix, compression="none"))
    for i in range(n):
        o = ifd_off + 2 + 12 * i
        tag, typ, cnt = _s.unpack("<HHI", tif2[o : o + 8])
        if tag == 324:
            _s.pack_into("<I", tif2, o + 4, cnt - 1)
            break
    with pytest.raises(ValueError, match="tiles but"):
        decode_tiff_gray8(bytes(tif2))


@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=40),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=50, deadline=None)
def test_tiled_round_trip_property(w, h, seed):
    import numpy as np

    from meta_iterative_mapreduce_spark.operators.tiff import (
        decode_tiff_gray8,
        encode_tiff_gray8_tiled,
    )

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=w * h, dtype=np.uint8).tobytes()
    comp = ("none", "packbits", "lzw")[seed % 3]
    f = decode_tiff_gray8(encode_tiff_gray8_tiled(w, h, px, compression=comp))
    assert f["pixels"].tobytes() == px


def test_mm_byte_order_writers_round_trip():
    """MM (big-endian) output from BOTH writers: header, IFD counts,
    inline SHORT values (leading-bytes rule), offset arrays — all
    must survive the endian-generic reader."""
    from meta_iterative_mapreduce_spark.operators.tiff import (
        decode_tiff_gray8,
        encode_tiff_gray8,
        encode_tiff_gray8_tiled,
    )

    w, h = 13, 37
    pix = bytes((i * 31) % 256 for i in range(w * h))
    for comp in ("none", "packbits", "lzw"):
        for enc in (encode_tiff_gray8, encode_tiff_gray8_tiled):
            tif = enc(w, h, pix, compression=comp, byte_order="MM")
            assert tif[:4] == b"MM\x00*"
            f = decode_tiff_gray8(tif)
            assert f["pixels"].tobytes() == pix, (comp, enc.__name__)
    with pytest.raises(ValueError, match="byte_order"):
        encode_tiff_gray8(2, 2, bytes(4), byte_order="XX")


def test_tiled_writer_rejects_nonpositive_tile_length():
    """ADVICE r9: tile_length <= 0 (e.g. -16, a negative multiple of
    16) must fail the dim guard, not produce nonsense tile counts."""
    import pytest

    from meta_iterative_mapreduce_spark.operators.tiff import (
        encode_tiff_gray8_tiled,
    )

    pix = bytes(range(64)) * 4
    for bad_w, bad_h in ((-16, 16), (16, -16), (16, 0)):
        with pytest.raises(ValueError, match="positive multiples"):
            encode_tiff_gray8_tiled(16, 16, pix, tile_width=bad_w, tile_length=bad_h)
