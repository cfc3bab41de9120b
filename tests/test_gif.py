"""GIF codec spec-level guarantees the SQL oracle can't see: LZW
variable-width growth, dictionary reset, KwKwK, sub-block framing,
extension skipping, and honest scope guards."""

from __future__ import annotations

import struct

import pytest

from meta_iterative_mapreduce_spark.operators.codecs import (
    lzw_decode,
    lzw_encode,
)
from meta_iterative_mapreduce_spark.operators.gif import (
    decode_gif_gray8,
    encode_gif_gray8,
)
from meta_iterative_mapreduce_spark.operators.multimodal import (
    decode_image_features,
)

GIF_LZW = {"msb": False, "early_change": False}


def test_lzw_round_trip_shapes():
    import random

    rng = random.Random(11)
    for n in (1, 2, 255, 256, 4096, 20000):
        for kind in ("rand", "rep", "const"):
            if kind == "rand":
                data = bytes(rng.randrange(256) for _ in range(n))
            elif kind == "rep":
                data = (b"abcabcd" * (n // 7 + 1))[:n]
            else:
                data = b"\x42" * n
            enc = lzw_encode(data, 8, **GIF_LZW)
            assert lzw_decode(enc, 8, **GIF_LZW, n_expected=n) == data


def test_lzw_kwkwk_case():
    # 'aaaa...' forces code == next free code immediately (KwKwK)
    data = b"\x01" * 50
    enc = lzw_encode(data, 2, **GIF_LZW)
    assert lzw_decode(enc, 2, **GIF_LZW, n_expected=50) == data
    # indices beyond the root table must be rejected, not mis-encoded
    with pytest.raises(ValueError, match="roots"):
        lzw_encode(b"\x05", 2, **GIF_LZW)


def test_lzw_dictionary_reset_at_4096():
    # enough distinct material to overflow the 12-bit table: encoder
    # must emit CLEAR and the decoder must follow the reset
    px = bytes((i * 7 + i // 300) % 256 for i in range(300 * 200))
    f = decode_gif_gray8(encode_gif_gray8(300, 200, px))
    assert f["pixels"].tobytes() == px


def test_gif_round_trip_and_mean():
    px = bytes([10, 20, 30, 40, 50, 60])
    f = decode_gif_gray8(encode_gif_gray8(3, 2, px))
    assert (f["width"], f["height"], f["n_pixels"]) == (3, 2, 6)
    assert f["mean_intensity"] == 35.0


def test_gif_extension_blocks_are_skipped():
    # splice a Graphic Control Extension between LSD+GCT and the image
    gif = bytearray(encode_gif_gray8(2, 2, bytes([1, 2, 3, 4])))
    insert_at = 13 + 3 * 256  # after header+LSD+GCT
    gce = b"\x21\xF9\x04\x00\x00\x00\x00\x00"
    gif[insert_at:insert_at] = gce
    f = decode_gif_gray8(bytes(gif))
    assert f["pixels"].tobytes() == bytes([1, 2, 3, 4])


def test_gif_corrupt_raises_valueerror():
    with pytest.raises(ValueError):
        decode_gif_gray8(b"GIF89a" + b"\x00" * 4)
    # truncated sub-blocks
    good = encode_gif_gray8(4, 4, bytes(range(16)))
    with pytest.raises(ValueError):
        decode_gif_gray8(good[:-5])


def test_gif_local_color_table_round_trip():
    """LCT layout: no GCT in the logical screen descriptor at all;
    the palette rides in the image descriptor."""
    pix = bytes(range(16))
    gif = encode_gif_gray8(4, 4, pix, local_palette=True)
    # LSD packed byte must NOT declare a GCT
    assert not gif[10] & 0x80
    f = decode_gif_gray8(gif)
    assert f["pixels"].tobytes() == pix


def test_gif_interlace_round_trip_and_storage_order():
    from meta_iterative_mapreduce_spark.operators.gif import (
        _interlace_row_order,
    )

    h, w = 11, 3
    pix = bytes(range(h * w))
    gif = encode_gif_gray8(w, h, pix, interlace=True)
    f = decode_gif_gray8(gif)
    assert f["pixels"].tobytes() == pix
    # the 4-pass permutation for h=11: 0,8 | 4 | 2,6,10 | odd rows
    assert _interlace_row_order(11) == [0, 8, 4, 2, 6, 10, 1, 3, 5, 7, 9]
    # every row appears exactly once for any height
    for hh in (1, 2, 3, 7, 8, 9, 64):
        assert sorted(_interlace_row_order(hh)) == list(range(hh))


def test_gif_lct_plus_interlace_round_trip():
    h, w = 9, 5
    pix = bytes((i * 37) % 256 for i in range(h * w))
    gif = encode_gif_gray8(w, h, pix, local_palette=True, interlace=True)
    f = decode_gif_gray8(gif)
    assert f["pixels"].tobytes() == pix


def test_gif_truncated_lct_detected():
    pix = bytes(range(4))
    gif = encode_gif_gray8(2, 2, pix, local_palette=True)
    # cut inside the local color table (descriptor ends at 13+10)
    with pytest.raises(ValueError):
        decode_gif_gray8(gif[: 13 + 10 + 100])


def test_gif_no_color_table_at_all_rejected():
    gif = bytearray(encode_gif_gray8(2, 2, bytes([1, 2, 3, 4]), local_palette=True))
    desc_at = 13  # no GCT in this layout
    assert gif[desc_at] == 0x2C
    gif[desc_at + 9] &= ~0x80  # clear the LCT flag, keep the bytes
    with pytest.raises(ValueError):
        decode_gif_gray8(bytes(gif))


def test_gif_pixel_count_mismatch_detected():
    # declare a 3x3 image but ship 2x2 worth of LZW data
    gif = bytearray(encode_gif_gray8(2, 2, bytes([1, 2, 3, 4])))
    desc_at = 13 + 3 * 256
    w_at = desc_at + 5
    struct.pack_into("<HH", gif, w_at, 3, 3)
    # widen screen too so dims stay consistent
    struct.pack_into("<HH", gif, 6, 3, 3)
    with pytest.raises(ValueError, match="declares"):
        decode_gif_gray8(bytes(gif))


def test_dispatcher_routes_gif():
    f = decode_image_features(encode_gif_gray8(3, 2, bytes([0] * 6)))
    assert (f["width"], f["height"], f["mean_intensity"]) == (3, 2, 0.0)


# --- animated GIF: frame index + 1/k sampling ------------------------

def test_gif_animation_index_and_sampling():
    from meta_iterative_mapreduce_spark.operators.gif import (
        encode_gif_animation,
        parse_gif_frame_index,
        sample_gif_frames,
    )

    w, h = 5, 3
    frames = [bytes([(f * 31 + i) % 256 for i in range(w * h)]) for f in range(7)]
    gif = encode_gif_animation(w, h, frames)
    idx = parse_gif_frame_index(gif)
    assert [e["frame"] for e in idx] == list(range(7))
    # every indexed range starts at an image descriptor and spans to
    # the next block
    for e in idx:
        assert gif[e["offset"] - 1] == 0x2C
    for k in (1, 2, 3, 7):
        got = sample_gif_frames(gif, k)
        assert [p.tobytes() for p in got] == frames[::k]


def test_gif_animation_single_frame_and_corrupt():
    import pytest as _p

    from meta_iterative_mapreduce_spark.operators.gif import (
        encode_gif_animation,
        parse_gif_frame_index,
    )

    gif = encode_gif_animation(2, 2, [bytes(4)])
    assert len(parse_gif_frame_index(gif)) == 1
    with _p.raises(ValueError):
        parse_gif_frame_index(gif[:-4])  # cut mid sub-blocks
    with _p.raises(ValueError):
        encode_gif_animation(2, 2, [])
    with _p.raises(ValueError):
        encode_gif_animation(2, 2, [bytes(3)])


def test_sample_gif_frames_validates_header_first():
    """ADVICE r9: a short or non-GIF payload raises the module's
    documented ValueError (header validation precedes the LSD/GCT
    unpack), never a struct.error."""
    import pytest

    from meta_iterative_mapreduce_spark.operators.gif import (
        sample_gif_frames,
    )

    for bad in (b"", b"GIF8", b"NOTAGIF\x00\x00\x00\x00\x00\x00\x00"):
        with pytest.raises(ValueError, match="bad GIF header"):
            sample_gif_frames(bad)
