"""GIF (GIF87a/GIF89a) codec — pure stdlib+numpy, both directions.

The fourth real raster codec in the engine's multimodal family (PNG,
baseline JPEG gray+color, lossless WebP VP8L — this adds the
palette+LZW format that legacy web corpora are full of). Implemented
from the public GIF89a specification: logical screen descriptor,
global color table, image descriptor, sub-block framing, and the GIF
variant of LZW with variable-width codes (start min_code_size+1, grow
at 2^width, cap 12 bits, CLEAR resets the dictionary, EOI terminates).

Scope (honest guards, same policy as webp.py/avi.py):
- decode: single-image GIFs with a global OR local color table (the
  LCT overrides the GCT per spec appendix; animated-frame corpora
  carry LCTs routinely) and both sequential and INTERLACED row order
  (the fixed 4-pass 8/8/4/2 permutation); 89a extension blocks
  (graphic control, comment, application) are parsed and skipped.
  ANIMATIONS: container-level frame indexing + 1/k frame sampling
  (parse_gif_frame_index / sample_gif_frames — only sampled frames'
  LZW streams are decoded, the AVI/MP4 contract); full playback
  compositing (disposal methods, partial-frame blits onto a canvas)
  is out of scope. Corrupt streams raise ValueError.
- encode: grayscale-8 frames as GIF89a with a 256-entry gray palette
  — global by default, LOCAL (no GCT at all) with `local_palette`,
  interlaced row order with `interlace` — and a REAL
  dictionary-building LZW compressor (codes grow 9→12 bits and the
  dictionary resets on overflow, so a round trip exercises the
  decoder's growth/reset paths, not a degenerate literal-only
  stream).

Reference analog: none (kernel.cu:92-104 reads numeric stdin);
multimodal ingest is brief-mandated surface. Spark-side plumbing is
the PNG/JPEG/WebP family's: Arrow-batched mapInPandas over _spread
partitions, never a driver-side pixel loop.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from meta_iterative_mapreduce_spark.io import load_table
from meta_iterative_mapreduce_spark.operators.codecs import lzw_decode, lzw_encode
from meta_iterative_mapreduce_spark.registry import register

_GIF87 = b"GIF87a"
_GIF89 = b"GIF89a"


# ---------------------------------------------------------------------------
# container
# ---------------------------------------------------------------------------


_GRAY_PALETTE = bytes(b for i in range(256) for b in (i, i, i))


def _interlace_row_order(height: int) -> list[int]:
    """GIF89a 4-pass interlace: the source row written at storage
    position k is `order[k]` (pass 1 rows 0,8,16…, pass 2 4,12…,
    pass 3 2,6,10…, pass 4 odd rows)."""
    order: list[int] = []
    for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
        order.extend(range(start, height, step))
    return order


def _lzw_sub_blocks(indices: bytes) -> bytes:
    """An image's data: LZW minimum code size 8, then the GIF-LZW
    stream framed as sub-blocks of <= 255 bytes and a zero-length
    terminator."""
    lzw = lzw_encode(indices, 8, msb=False, early_change=False)
    out = bytearray([8])
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def encode_gif_gray8(
    width: int,
    height: int,
    pixels: bytes,
    *,
    local_palette: bool = False,
    interlace: bool = False,
) -> bytes:
    """GIF89a with a 256-entry gray palette (index i -> RGB(i,i,i)),
    one image, real LZW. `pixels` is row-major grayscale-8 of exactly
    width*height bytes. `local_palette` puts the palette in the image
    descriptor's LOCAL color table and omits the GCT entirely;
    `interlace` stores rows in the 4-pass interlaced order."""
    if len(pixels) != width * height:
        raise ValueError("pixel buffer does not match dimensions")
    if not (0 < width <= 0xFFFF and 0 < height <= 0xFFFF):
        raise ValueError("dimensions out of GIF range")
    out = bytearray()
    out += _GIF89
    if local_palette:  # LSD without any GCT
        out += struct.pack("<HHBBB", width, height, 0b0_111_0_000, 0, 0)
    else:  # GCT present, 8-bit color resolution, size 2^(7+1)=256
        out += struct.pack("<HHBBB", width, height, 0b1_111_0_111, 0, 0)
        out += _GRAY_PALETTE
    ipacked = (0x80 | 0x07 if local_palette else 0) | (
        0x40 if interlace else 0
    )
    out += b"\x2C" + struct.pack("<HHHHB", 0, 0, width, height, ipacked)
    if local_palette:
        out += _GRAY_PALETTE
    if interlace:
        pixels = (
            np.frombuffer(pixels, dtype=np.uint8)
            .reshape(height, width)[_interlace_row_order(height)]
            .tobytes()
        )
    out += _lzw_sub_blocks(pixels)
    out += b"\x3B"  # trailer
    return bytes(out)


def _sub_blocks(data: bytes, pos: int, what: str) -> tuple[bytes, int]:
    """Read the sub-block chain at `pos` (length byte + bytes, ended by
    a zero length) -> (payload, position after the terminator)."""
    parts = []
    while True:
        if pos >= len(data):
            raise ValueError(f"{what} truncated")
        n = data[pos]
        pos += 1
        if n == 0:
            return b"".join(parts), pos
        parts.append(data[pos : pos + n])
        pos += n


def _color_table(data: bytes, pos: int, packed: int, scope: str):
    """The color table at `pos` whose size a packed field declares ->
    ((n, 3) uint8 array, position after it)."""
    n = 2 << (packed & 0x07)
    table = np.frombuffer(data[pos : pos + 3 * n], dtype=np.uint8).reshape(-1, 3)
    if table.shape[0] != n:
        raise ValueError(f"{scope} color table truncated")
    return table, pos + 3 * n


def _parse_header(data: bytes):
    """Header, logical screen descriptor and global color table ->
    (screen width, screen height, GCT or None, position after them)."""
    if len(data) < 13 or data[:6] not in (_GIF87, _GIF89):
        raise ValueError("bad GIF header")
    sw, sh, packed, _bg, _aspect = struct.unpack("<HHBBB", data[6:13])
    gct, pos = None, 13
    if packed & 0x80:
        gct, pos = _color_table(data, pos, packed, "global")
    return sw, sh, gct, pos


def _image_blocks(data: bytes, pos: int) -> Iterator[tuple[int, int]]:
    """Walk the block stream from `pos` to the trailer, skipping 89a
    extension blocks, and yield (descriptor offset, end offset) of
    each image block — block lengths only, no LZW decode."""
    while True:
        if pos >= len(data):
            raise ValueError("unexpected end of GIF stream")
        block = data[pos]
        pos += 1
        if block == 0x3B:
            return
        if block == 0x21:  # extension: label + sub-blocks
            _, pos = _sub_blocks(data, pos + 1, "extension block")
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02X}")
        start = pos
        if pos + 9 > len(data):
            raise ValueError("image descriptor truncated")
        ipacked = data[pos + 8]
        pos += 9
        if ipacked & 0x80:
            pos += 3 * (2 << (ipacked & 0x07))
        # +1: the LZW minimum code size byte
        _, pos = _sub_blocks(data, pos + 1, "image data sub-blocks")
        yield start, pos


def _decode_image_at(data: bytes, pos: int, gct, sw: int, sh: int):
    """Decode ONE image block starting at its descriptor byte `pos`
    (after the 0x2C separator): descriptor, optional LCT, LZW data.
    Returns the (h, w) uint8 luma array."""
    if pos + 9 > len(data):
        raise ValueError("image descriptor truncated")
    _left, _top, w, h, ipacked = struct.unpack("<HHHHB", data[pos : pos + 9])
    pos += 9
    palette = gct
    if ipacked & 0x80:  # local color table overrides the GCT
        palette, pos = _color_table(data, pos, ipacked, "local")
    if palette is None:
        raise ValueError("image has neither global nor local color table")
    pal_len = palette.shape[0]
    luma = (palette.astype(np.uint16).sum(axis=1) // 3).astype(np.uint8)
    interlaced = bool(ipacked & 0x40)
    if w == 0 or h == 0 or w > sw or h > sh:
        raise ValueError("image dimensions inconsistent with screen")
    if pos >= len(data):
        raise ValueError("missing LZW minimum code size")
    min_code_size = data[pos]
    lzw, _ = _sub_blocks(data, pos + 1, "image data sub-blocks")
    idx = np.frombuffer(
        lzw_decode(
            lzw, min_code_size, msb=False, early_change=False, n_expected=w * h
        ),
        dtype=np.uint8,
    )
    if idx.max(initial=0) >= pal_len:
        raise ValueError("pixel index beyond palette")
    pix = luma[idx].reshape(h, w)
    if interlaced:  # stored rows are the 4-pass permutation: undo it
        img = np.empty_like(pix)
        img[_interlace_row_order(h)] = pix
        pix = img
    return pix


def decode_gif_gray8(payload: bytes) -> dict:
    """Parse a single-image GIF: header, LSD, GCT, skip 89a extension
    blocks, image descriptor, LZW data. Returns dict(width, height,
    n_pixels, mean_intensity, pixels=(h, w) uint8 luma) where luma is
    the palette's (r+g+b)/3 rounded down per entry."""
    data = bytes(payload)
    sw, sh, gct, pos = _parse_header(data)
    first = next(_image_blocks(data, pos), None)
    if first is None:
        raise ValueError("GIF contains no image data")
    pix = _decode_image_at(data, first[0], gct, sw, sh)
    h, w = pix.shape
    return {
        "width": w,
        "height": h,
        "n_pixels": w * h,
        "mean_intensity": float(pix.sum()) / (w * h),
        "pixels": pix,
    }


@register(
    "q_multimodal_decode_gif",
    oracle="""
    WITH dims AS (
        SELECT doc_id, text,
               CAST(doc_id % 13 + 4 AS INT) AS width,
               CAST(LEAST(octet_length(encode(text)) // (doc_id % 13 + 4),
                          64) AS INT) AS height
        FROM documents
        WHERE octet_length(encode(text)) = length(text)
          AND octet_length(encode(text)) >= doc_id % 13 + 4
    )
    SELECT d.doc_id, d.width, d.height,
           CAST(d.width * d.height AS BIGINT) AS n_pixels,
           SUM(ascii(SUBSTR(d.text, CAST(t.i AS INT), 1)))
               / CAST(d.width * d.height AS DOUBLE) AS mean_intensity
    FROM dims d,
         UNNEST(generate_series(1, d.width * d.height)) AS t(i)
    GROUP BY d.doc_id, d.width, d.height
    """,
)
def q_multimodal_decode_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through GIF89a+LZW: each ASCII document's byte plane
    becomes a doc_id%13+4 wide grayscale frame (the PNG family's
    deterministic synth), encoded with the REAL dictionary-building
    LZW and decoded by the full parser — both inside one Arrow-batched
    mapInPandas. Four container layouts rotate by doc_id%4: global
    palette, LOCAL color table (no GCT), interlaced 4-pass row order,
    and LCT+interlaced together. GIF is lossless over a gray palette,
    so the oracle recomputes the EXACT per-document mean intensity
    from the source text in SQL (same oracle as
    q_multimodal_decode_png — the formats must agree byte-for-byte on
    what they transported)."""
    from meta_iterative_mapreduce_spark.operators.multimodal import (
        _MAX_HEIGHT,
        _spread,
    )

    d = load_table(spark, sf_dir, "documents").filter(
        (F.length(F.encode("text", "UTF-8")) == F.length("text"))
        & (F.length(F.encode("text", "UTF-8")) >= F.col("doc_id") % 13 + 4)
    )
    src = _spread(
        d.select("doc_id", F.encode("text", "UTF-8").alias("payload")), spark
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ws, hs, np_, mi = [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(payload)
                w = int(doc_id) % 13 + 4
                h = min(len(data) // w, _MAX_HEIGHT)
                gray = data[: w * h]
                variant = int(doc_id) % 4
                gif = encode_gif_gray8(
                    w,
                    h,
                    gray,
                    local_palette=variant in (1, 3),
                    interlace=variant in (2, 3),
                )
                f = decode_gif_gray8(gif)
                if (f["width"], f["height"]) != (w, h):
                    raise ValueError("dim mismatch after GIF round trip")
                if f["pixels"].tobytes() != gray:
                    raise ValueError("pixel mismatch after GIF round trip")
                ids.append(doc_id)
                ws.append(w)
                hs.append(h)
                np_.append(w * h)
                mi.append(f["mean_intensity"])
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "n_pixels": pd.Series(np_, dtype="int64"),
                    "mean_intensity": pd.Series(mi, dtype="float64"),
                }
            )

    return src.mapInPandas(
        op,
        schema="doc_id long, width int, height int, n_pixels long, "
        "mean_intensity double",
    )


# ---------------------------------------------------------------------------
# animated GIF: container-level frame index + 1/k frame sampling (the
# GIF analog of avi.py/mp4.py — training pipelines sample animation
# frames without decoding the skipped ones)
# ---------------------------------------------------------------------------


def encode_gif_animation(
    width: int, height: int, frames: list[bytes], delay_cs: int = 4
) -> bytes:
    """GIF89a animation: gray GCT, NETSCAPE2.0 loop extension, then
    per frame a Graphic Control Extension (delay, disposal=1) and a
    full-size image block compressed with the real LZW."""
    if not frames:
        raise ValueError("need at least one frame")
    for i, fr in enumerate(frames):
        if len(fr) != width * height:
            raise ValueError(f"frame {i} does not match dimensions")
    out = bytearray()
    out += _GIF89
    out += struct.pack("<HHBBB", width, height, 0b1_111_0_111, 0, 0)
    out += _GRAY_PALETTE
    # NETSCAPE2.0 application extension: loop forever
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for fr in frames:
        out += b"\x21\xf9\x04" + struct.pack("<BHB", 0x04, delay_cs, 0)
        out += b"\x00"  # GCE terminator
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0)
        out += _lzw_sub_blocks(fr)
    out += b"\x3b"
    return bytes(out)


def parse_gif_frame_index(payload: bytes) -> list[dict]:
    """CONTAINER-LEVEL frame index: walk the block structure without
    any LZW decode, recording each image block's descriptor offset
    and byte length — on an object store these are the ranged GETs a
    sampler would issue. Returns [{frame, offset, n_bytes}]; raises
    ValueError on corrupt framing."""
    data = bytes(payload)
    _sw, _sh, _gct, pos = _parse_header(data)
    index = [
        {"frame": i, "offset": start, "n_bytes": end - start}
        for i, (start, end) in enumerate(_image_blocks(data, pos))
    ]
    if not index:
        raise ValueError("GIF contains no image data")
    return index


def sample_gif_frames(payload: bytes, every_k: int = 2) -> list[np.ndarray]:
    """Decode every k-th frame of an animation — ONLY those frames'
    LZW streams are touched (the index walk reads block lengths, not
    pixel data), the same 1/k contract as sample_mp4_payloads /
    the AVI sampler."""
    data = bytes(payload)
    entries = parse_gif_frame_index(data)
    sw, sh, gct, _ = _parse_header(data)
    return [
        _decode_image_at(data, entry["offset"], gct, sw, sh)
        for entry in entries[::every_k]
    ]


@register(
    "q_multimodal_frame_sample_gif",
    oracle="""
    WITH dims AS (
        SELECT doc_id, text,
               CAST(doc_id % 13 + 4 AS INT) AS width,
               4 AS height,
               LEAST(octet_length(encode(text))
                         // ((doc_id % 13 + 4) * 4), 24) AS n_frames
        FROM documents
        WHERE octet_length(encode(text)) = length(text)
          AND octet_length(encode(text)) >= (doc_id % 13 + 4) * 4
    )
    SELECT d.doc_id,
           CAST(d.n_frames AS INT) AS n_frames,
           CAST((d.n_frames + 1) // 2 AS INT) AS n_sampled,
           CAST(SUM(CASE WHEN ((t.i - 1) // (d.width * d.height)) % 2 = 0
                         THEN ascii(SUBSTR(d.text, CAST(t.i AS INT), 1))
                         ELSE 0 END) AS BIGINT) AS sampled_pixel_sum
    FROM dims d,
         UNNEST(generate_series(1, d.n_frames * d.width * d.height)) AS t(i)
    GROUP BY d.doc_id, d.n_frames
    """,
)
def q_multimodal_frame_sample_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANIMATED-GIF frame sampling, container-level — the GIF analog
    of q_multimodal_frame_sample_avi / q_multimodal_mp4_index: each
    document's bytes become the frames of a real GIF89a animation
    (gray GCT, NETSCAPE loop extension, per-frame GCE + LZW image
    blocks), the INDEX walk records every frame's byte range without
    touching pixel data, and only every 2nd frame is LZW-decoded.
    Output pins the frame count, the sampled count, and the exact
    integer pixel sum of the SAMPLED frames, which the oracle
    recomputes from the source text by frame parity — a decoded-
    skipped frame or an off-by-one in the index shifts the sum. At
    100 TB the index walk is a metadata read and the sampler issues
    1/k ranged reads, the same contract as the MP4/AVI paths."""
    from meta_iterative_mapreduce_spark.operators.multimodal import _spread

    width_of = F.col("doc_id") % 13 + 4
    d = load_table(spark, sf_dir, "documents").filter(
        (F.length(F.encode("text", "UTF-8")) == F.length("text"))
        & (F.length(F.encode("text", "UTF-8")) >= width_of * 4)
    )
    src = _spread(
        d.select("doc_id", F.encode("text", "UTF-8").alias("payload")), spark
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nf, ns, ps = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(payload)
                w = int(doc_id) % 13 + 4
                h = 4
                n_frames = min(len(data) // (w * h), 24)
                frames = [
                    data[i * w * h : (i + 1) * w * h]
                    for i in range(n_frames)
                ]
                gif = encode_gif_animation(w, h, frames)
                idx = parse_gif_frame_index(gif)
                if len(idx) != n_frames:
                    raise ValueError("frame index count mismatch")
                sampled = sample_gif_frames(gif, 2)
                if len(sampled) != (n_frames + 1) // 2:
                    raise ValueError("sampled count mismatch")
                for k, pix in enumerate(sampled):
                    if pix.tobytes() != frames[2 * k]:
                        raise ValueError(
                            f"sampled frame {2 * k} decoded wrong"
                        )
                ids.append(doc_id)
                nf.append(n_frames)
                ns.append(len(sampled))
                ps.append(int(sum(int(p.sum()) for p in sampled)))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "n_frames": pd.Series(nf, dtype="int32"),
                    "n_sampled": pd.Series(ns, dtype="int32"),
                    "sampled_pixel_sum": pd.Series(ps, dtype="int64"),
                }
            )

    return src.mapInPandas(
        op,
        schema="doc_id long, n_frames int, n_sampled int, "
        "sampled_pixel_sum long",
    )
