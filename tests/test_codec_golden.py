"""Golden SHA-256 of every binary encoder's output on fixed inputs.

The round-trip tests prove each encoder/decoder pair agrees with
itself; these hashes prove the BYTES do not drift — a refactor of a
shared codec kernel (LZW width/reset bookkeeping, PackBits run
heuristics, PNG filters, canonical Huffman codes, the JPEG entropy
packer and its restart-segment framing) must leave every encoder
byte-identical. Each case is seeded, so a changed hash means a changed
encoder, never a changed input."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from meta_iterative_mapreduce_spark.operators import (
    codecs,
    gif,
    multimodal,
    pdf,
    tiff,
    webp,
)


def _rng(seed: int) -> np.random.RandomState:
    return np.random.RandomState(seed)


def _gray(w: int, h: int, seed: int) -> bytes:
    """Noise with flat runs, so run-length and dictionary coders have
    both literals and repeats to encode."""
    rng = _rng(seed)
    px = rng.randint(0, 256, size=w * h).astype(np.uint8)
    runs = rng.randint(0, w * h, size=max(1, w * h // 16))
    for start in runs:
        px[start : start + int(rng.randint(2, 20))] = px[start]
    return px.tobytes()


def _gif_lzw(data: bytes, min_code_size: int) -> bytes:
    return codecs.lzw_encode(
        data, min_code_size, msb=False, early_change=False
    )


def _pages(seed: int, n_pages: int) -> list[str]:
    rng = _rng(seed)
    alphabet = "abcdefghij  ()\\%"
    pages = []
    for _ in range(n_pages):
        lines = []
        for _ in range(int(rng.randint(3, 12))):
            line = "".join(
                alphabet[int(i)] for i in rng.randint(0, len(alphabet), 40)
            )
            lines.append(line + "z" * int(rng.randint(0, 30)))
        pages.append("\n".join(lines))
    return pages


def _jpeg_rgb(w: int, h: int, seed: int) -> bytes:
    return _rng(seed).randint(0, 256, size=(h, w, 3), dtype=np.uint8).tobytes()


def _joined(frames: list[bytes]) -> bytes:
    return b"".join(len(f).to_bytes(4, "big") + f for f in frames)


def _webp_rgba(w: int, h: int, seed: int) -> np.ndarray:
    rng = _rng(seed)
    rgba = rng.randint(0, 4, size=(h, w, 4)).astype(np.uint8) * 60
    rgba[..., 3] = 255
    return rgba


CASES = {
    # GIF: both LZW min code sizes, a table that overflows 4096
    # entries, local palette, interlace, animation
    "gif_lzw_mcs2": lambda: _gif_lzw(
        bytes(_rng(1).randint(0, 4, 3000).astype(np.uint8)), 2
    ),
    "gif_lzw_mcs8": lambda: _gif_lzw(_gray(40, 30, 2), 8),
    "gif_reset_4096": lambda: gif.encode_gif_gray8(
        120, 100, _rng(3).randint(0, 256, 12000).astype(np.uint8).tobytes()
    ),
    "gif_local_interlaced": lambda: gif.encode_gif_gray8(
        23, 17, _gray(23, 17, 4), local_palette=True, interlace=True
    ),
    "gif_animation": lambda: gif.encode_gif_animation(
        9, 5, [_gray(9, 5, 10 + i) for i in range(6)]
    ),
    # TIFF: layout x compression x byte order, plus an LZW strip long
    # enough to clear the table
    **{
        f"tiff_{layout}_{comp}_{bo}": (
            lambda layout=layout, comp=comp, bo=bo: (
                tiff.encode_tiff_gray8_tiled
                if layout == "tiled"
                else tiff.encode_tiff_gray8
            )(37, 29, _gray(37, 29, 5), compression=comp, byte_order=bo)
        )
        for layout in ("strip", "tiled")
        for comp in ("none", "packbits", "lzw")
        for bo in ("II", "MM")
    },
    "tiff_lzw_reset": lambda: tiff.encode_tiff_gray8(
        80,
        64,
        _rng(6).randint(0, 256, 80 * 64).astype(np.uint8).tobytes(),
        compression="lzw",
        rows_per_strip=64,
    ),
    # PDF: every writer layout; the filter chain cycles Flate, LZW,
    # ASCII85+Flate and ASCIIHex+RunLength over its pages
    "pdf_simple": lambda: pdf.encode_simple_pdf(_pages(7, 3)),
    "pdf_xref_stream": lambda: pdf.encode_pdf_xref_stream(_pages(8, 3)),
    "pdf_filter_chain": lambda: pdf.encode_pdf_filter_chain(_pages(9, 8)),
    "pdf_incremental": lambda: pdf.encode_pdf_incremental(_pages(10, 3)),
    # PNG: every filter type, with and without Adam7
    **{
        f"png_filter{ft}_adam7{int(il)}": (
            lambda ft=ft, il=il: multimodal.encode_png_gray8(
                19, 13, _gray(19, 13, 11), filter_type=ft, interlace=il
            )
        )
        for ft in range(5)
        for il in (False, True)
    },
    # WebP lossless: default encoder (subtract-green, cache, LZ77)
    "webp_lossless": lambda: webp.encode_webp_lossless(
        21, 14, _webp_rgba(21, 14, 12)
    ),
    "webp_plain": lambda: webp.encode_webp_lossless(
        9, 7, _webp_rgba(9, 7, 13), cache_bits=0, subtract_green=False,
        use_lz77=False,
    ),
    # JPEG: gray, color, color with restart intervals, frame stack
    "jpeg_gray": lambda: multimodal.encode_jpeg_gray(
        37, 29, _gray(37, 29, 14)
    ),
    "jpeg_color": lambda: multimodal.encode_jpeg_color(
        37, 29, _jpeg_rgb(37, 29, 15)
    ),
    **{
        f"jpeg_color_rst{ri}": (
            lambda ri=ri: multimodal.encode_jpeg_color(
                53, 41, _jpeg_rgb(53, 41, 16), restart_interval=ri
            )
        )
        for ri in (1, 3, 5)
    },
    "jpeg_color_batch": lambda: _joined(
        multimodal.encode_jpeg_color_batch(
            27,
            18,
            _rng(17).randint(0, 256, size=(5, 18, 27, 3), dtype=np.uint8),
        )
    ),
}

GOLDEN = {
    "gif_animation": "c5d37ceb361437da383b70e7ea9fbaf88846a910a9ea029b25656f1cd16734e4",
    "gif_local_interlaced": "2ba95e7e5e316c068e522c20f60408955cfd436ce79635ddea479093ff53c5bf",
    "gif_lzw_mcs2": "0a5a47147b93997b0ea58a78857d8d354baf73ecdf150104c73c956d3aa2e563",
    "gif_lzw_mcs8": "9538312a4c874e5458cb8a5b2b213d16ec2903c13987dc76aa06a69fb0493212",
    "gif_reset_4096": "e51042178e9fc9a72ee6525246755f758a28573ca6f9e930f7fcd78289794539",
    "jpeg_color": "391ee0fd21a2844b2796393fb3fbc3b816243da18872c4da1edb734884b6a195",
    "jpeg_color_batch": "4c0ed298c8f2be53b9c5af381593c517135b1d30238504ab4f258dbdc61e2a01",
    "jpeg_color_rst1": "e995c4f3e733ccddafe29afda7b81b53d067d3d14405dc50c8e4c6a9c355b565",
    "jpeg_color_rst3": "1e4cd244e29c4f36b8871fd667723913a956fc1901f0a9580101a73ebcfcab09",
    "jpeg_color_rst5": "451140811ca4b3cb17611fdd59c97066a6d5a2fc8c921e944893e7a24de97b60",
    "jpeg_gray": "d0a38bfae0868d2e627056ef210d28caf914b2cef2cd3003b227d0bd2da936cc",
    "pdf_filter_chain": "e7b89fc68899d082fe3b32306af1428ec59642aa964654a17268d28f004947be",
    "pdf_incremental": "ceae876f3f0f57d6b76783971b149f5032bf78971c725d7c1a5c65578b290c2a",
    "pdf_simple": "fea3e3707c70df587a026c07e87f1cf007417e05e1a3349dfa7318e4a322231b",
    "pdf_xref_stream": "245d4f7c1de2f83a4ddbb7bdd5422350c8ae999d56543bacb5f64e8fc9d37583",
    "png_filter0_adam70": "cdaaaf8cf898546b3d0075adc9fd3e85300f0b8fd66d63079b3a7429a8f2bc6e",
    "png_filter0_adam71": "21b0e4b330113f82fb1ca84927e981ac00c8e89e6630c5bd2db97b6b0ceb358f",
    "png_filter1_adam70": "13ae52e479a3dd799fc442929e41382f0100a4e10856d95da4ce0069e302b0f1",
    "png_filter1_adam71": "033189e4a3138235c3117e3fff17d61d68cf377b822398223435f8273eb9303a",
    "png_filter2_adam70": "d04afdce44fc8b97009f0cc8211a53660fb35396fcf76f7d38175b49f3062b63",
    "png_filter2_adam71": "23b820b53adcc1f9fececaf03c621abce101ef99ebb5b942bbded9a6641ed1ce",
    "png_filter3_adam70": "5216189fda52a4b9b7b6a6c1b2b4e66a1351448f185e8c780e01a8fa5e6fdcf1",
    "png_filter3_adam71": "ab3cdd3eb8d35106b504986ec699fa1ba60af7334275f8f37199055a1943229f",
    "png_filter4_adam70": "3e85074b26bcdb9801eba6860da568294424783ba0d84d94ef87d1275afa4db5",
    "png_filter4_adam71": "e4bd5394a0c5172a30e110596fff48353a61e5ca5e6e1c53ca5f42a621fee91c",
    "tiff_lzw_reset": "129b445fc27d6c604acc6251feddcbff9b29b4871c14a71c086e745ff17a46ce",
    "tiff_strip_lzw_II": "20a54ff36ef19e4831674346edf411efffe948a17de8112aa0710039523e6cf6",
    "tiff_strip_lzw_MM": "3359007d7535bcc5e474cb8602d128b37a0d71fc2cb94102c4944e53eff2f15f",
    "tiff_strip_none_II": "2e2cd9a0f5637757b6a383b96d4c3b84c877e04ba145fd72ea47e2d417fd7d6a",
    "tiff_strip_none_MM": "c259e7359bc1553701b2878f90cec61875ecc7dbce9fb3ae77bfd535bedbf69f",
    "tiff_strip_packbits_II": "8494335505fb70bbfd48b7be85ea48283962d3793578dca807199072bf0cb769",
    "tiff_strip_packbits_MM": "37d9e3daa078f97ed22f744e2811bb5d9c0e26bed00a6a4eaec2a8857f667d89",
    "tiff_tiled_lzw_II": "42345ac5f3847ba9eda41db17ed7fff2ef112fd73c3e2c6e248a39b24edbc623",
    "tiff_tiled_lzw_MM": "6fe67b516b809c0932a762aa5b5621a4cd0ef395932d2c392f5423bb083101cd",
    "tiff_tiled_none_II": "eefccd51c713be96a234947b6da5d58c8ba61749e2736186022076a7df00fe20",
    "tiff_tiled_none_MM": "97fd484282b010bb911f95a25e8a5db8df823da24450a0f1aa16a53a01f44c86",
    "tiff_tiled_packbits_II": "7ec428e2a6709585d5b022747b80c057260d611c23501e709bf0d25b9c4a3d53",
    "tiff_tiled_packbits_MM": "c10a9195ba09b0aefe2cb26cc8812131acba41c47985b3305fba23cfb06d0151",
    "webp_lossless": "4ff937011d7bfe59c8c39d63771bff926cc1eeb035674e0ae8ebff3dddb09369",
    "webp_plain": "c44516f35999792959952f1c19c53362acc92fac34890fcf0d6e054732727ba7",
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_encoder_golden_hash(name):
    got = hashlib.sha256(CASES[name]()).hexdigest()
    assert got == GOLDEN[name], f"{name} encoder output changed"


def test_every_case_has_a_golden_hash():
    assert sorted(GOLDEN) == sorted(CASES)
