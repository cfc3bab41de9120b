"""TIFF 6.0 codec (grayscale-8, strip-based) — pure stdlib+numpy.

The fifth raster family (PNG, JPEG, WebP-VP8L, GIF, now TIFF) and the
one scanned/scientific corpora arrive in. TIFF is really a TAG
CONTAINER — the valuable part is the IFD machinery: both byte orders
(II/MM), 12-byte tag entries with inline-vs-offset values, multi-strip
image data — plus per-strip decompression. Implemented from the
public TIFF 6.0 specification:

- decode: II and MM files, BitsPerSample 8, SamplesPerPixel 1
  (BlackIsZero), any RowsPerStrip; Compression 1 (none), 32773
  (PackBits), and 5 (TIFF-LZW: MSB-first bit order, EarlyChange —
  the width grows one code EARLIER than GIF's LSB variant, a classic
  cross-codec trap); BOTH strip-based and TILED layouts (tags
  322-325; edge tiles pad to full tile size and are cropped on
  read per TIFF 6.0 §15). Other bit depths, palettes, and planar
  configs raise NotImplementedError; corrupt structures raise
  ValueError.
- encode: grayscale-8 with the same three compressions, BOTH byte
  orders (II and MM — inline tag values keep the leading-bytes rule
  of TIFF 6.0 §2 under big-endian packing), and
  configurable RowsPerStrip, so multi-strip layouts and every
  decompressor have a real round-trip partner.

Spark-side plumbing is the codec family's (Arrow-batched mapInPandas
over _spread). Reference analog: none (kernel.cu:92-104 reads numeric
stdin).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from meta_iterative_mapreduce_spark.io import load_table
from meta_iterative_mapreduce_spark.operators.codecs import (
    lzw_decode,
    lzw_encode,
    packbits_decode,
)
from meta_iterative_mapreduce_spark.registry import register


def _packbits_encode(data: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        # find run length at i
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 2:
            out.append(257 - run)  # -(run-1) as signed byte
            out.append(data[i])
            i += run
            continue
        # literal stretch: until a run of >=3 starts (2-runs aren't
        # worth breaking a literal for) or 128 bytes
        j = i + 1
        while j < n and j - i < 128:
            if j + 2 < n and data[j] == data[j + 1] == data[j + 2]:
                break
            j += 1
        out.append(j - i - 1)
        out += data[i:j]
        i = j
    return bytes(out)


# ---------------------------------------------------------------------------
# container
# ---------------------------------------------------------------------------

_COMPRESSORS = {
    "none": (1, lambda b: b),
    "lzw": (5, lambda b: lzw_encode(b, 8, msb=True, early_change=True)),
    "packbits": (32773, _packbits_encode),
}


def encode_tiff_gray8(
    width: int,
    height: int,
    pixels: bytes,
    compression: str = "packbits",
    rows_per_strip: int = 8,
    byte_order: str = "II",
) -> bytes:
    """Grayscale-8 TIFF with `height/rows_per_strip` strips, each
    independently compressed; `byte_order` picks II (little-endian,
    the PC default) or MM (big-endian — scanners/Mac-era writers),
    so the certified rotation exercises the reader's endian handling
    with real files, not just hand-built test fixtures."""
    if len(pixels) != width * height:
        raise ValueError("pixel buffer does not match dimensions")
    if compression not in _COMPRESSORS:
        raise ValueError(f"unknown compression {compression!r}")
    if byte_order not in ("II", "MM"):
        raise ValueError(f"byte_order must be II or MM, not {byte_order!r}")
    e = "<" if byte_order == "II" else ">"
    comp_tag, comp_fn = _COMPRESSORS[compression]
    rps = max(1, rows_per_strip)
    strips = [
        comp_fn(pixels[r * width : min(r + rps, height) * width])
        for r in range(0, height, rps)
    ]
    return _tiff_file(
        byte_order,
        strips,
        [(256, width), (257, height), (258, 8), (259, comp_tag), (262, 1),
         (277, 1), (278, rps)],
        (273, 279),  # StripOffsets, StripByteCounts
    )


def encode_tiff_gray8_tiled(
    width: int,
    height: int,
    pixels: bytes,
    compression: str = "packbits",
    tile_width: int = 16,
    tile_length: int = 16,
    byte_order: str = "II",
) -> bytes:
    """Grayscale-8 TILED TIFF (TileWidth/TileLength/TileOffsets/
    TileByteCounts, tags 322-325) in either byte order — the default
    layout of imaging/geo pipelines. Edge tiles pad to the full tile
    size with zeros per TIFF 6.0 §15 (the reader crops); tile dims
    must be positive multiples of 16."""
    if len(pixels) != width * height:
        raise ValueError("pixel buffer does not match dimensions")
    if compression not in _COMPRESSORS:
        raise ValueError(f"unknown compression {compression!r}")
    if tile_width % 16 or tile_length % 16 or tile_width <= 0 or tile_length <= 0:
        raise ValueError("tile dims must be positive multiples of 16")
    if byte_order not in ("II", "MM"):
        raise ValueError(f"byte_order must be II or MM, not {byte_order!r}")
    e = "<" if byte_order == "II" else ">"
    comp_tag, comp_fn = _COMPRESSORS[compression]
    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width)
    ta = (width + tile_width - 1) // tile_width
    td = (height + tile_length - 1) // tile_length
    tiles: list[bytes] = []
    for ty in range(td):
        for tx in range(ta):
            tile = np.zeros((tile_length, tile_width), dtype=np.uint8)
            rows = min(tile_length, height - ty * tile_length)
            cols = min(tile_width, width - tx * tile_width)
            tile[:rows, :cols] = arr[
                ty * tile_length : ty * tile_length + rows,
                tx * tile_width : tx * tile_width + cols,
            ]
            tiles.append(comp_fn(tile.tobytes()))
    return _tiff_file(
        byte_order,
        tiles,
        [(256, width), (257, height), (258, 8), (259, comp_tag), (262, 1),
         (277, 1), (322, tile_width), (323, tile_length)],
        (324, 325),  # TileOffsets, TileByteCounts
    )


def _tiff_file(
    byte_order: str,
    segments: list[bytes],
    shorts: list[tuple[int, int]],
    offset_tags: tuple[int, int],
) -> bytes:
    """Assemble a one-IFD grayscale TIFF: header(8) | segment data |
    [offset/count LONG arrays] | IFD. `shorts` are (tag, value) SHORT
    tags; the segments' offsets and byte counts go in the two LONG
    tags of `offset_tags`, inline when there is one segment."""
    e = "<" if byte_order == "II" else ">"
    offsets, pos = [], 8
    for seg in segments:
        offsets.append(pos)
        pos += len(seg)
    counts = [len(seg) for seg in segments]
    extra = b""
    if len(segments) == 1:
        off_val, cnt_val = offsets[0], counts[0]
    else:
        off_val = pos
        extra += struct.pack(f"{e}{len(offsets)}I", *offsets)
        cnt_val = pos + len(extra)
        extra += struct.pack(f"{e}{len(counts)}I", *counts)

    off_tag, cnt_tag = offset_tags
    entries = [(tag, 3, 1, value) for tag, value in shorts] + [
        (off_tag, 4, len(segments), off_val),
        (cnt_tag, 4, len(segments), cnt_val),
    ]
    ifd = bytearray(struct.pack(f"{e}H", len(entries)))
    for tag, typ, count, value in sorted(entries):
        ifd += struct.pack(f"{e}HHI", tag, typ, count)
        # inline values occupy the LEADING bytes of the 4-byte value
        # field in BOTH byte orders (TIFF 6.0 §2): pack the value at
        # its type width, then pad to 4
        if typ == 3:
            ifd += struct.pack(f"{e}H", value) + b"\x00\x00"
        else:
            ifd += struct.pack(f"{e}I", value)
    ifd += b"\x00" * 4
    head = b"II*\x00" if byte_order == "II" else b"MM\x00*"
    return (
        head
        + struct.pack(f"{e}I", pos + len(extra))
        + b"".join(segments)
        + extra
        + ifd
    )


def _decode_segment(raw: bytes, comp: int, n_expected: int) -> bytes:
    """One strip's or tile's bytes → exactly n_expected pixels."""
    if comp == 1:
        if len(raw) < n_expected:
            raise ValueError("segment shorter than its pixel area")
        return raw[:n_expected]
    if comp == 32773:
        return packbits_decode(raw, n_expected)
    if comp == 5:
        return lzw_decode(
            raw, 8, msb=True, early_change=True, n_expected=n_expected
        )
    raise NotImplementedError(f"TIFF compression {comp}")


def decode_tiff_gray8(payload: bytes) -> dict:
    """Parse II or MM TIFF, first IFD only — strip-based AND tiled
    layouts. Returns dict(width, height, n_pixels, mean_intensity,
    pixels=(h, w) uint8)."""
    data = bytes(payload)
    if len(data) < 8:
        raise ValueError("TIFF too short")
    if data[:2] == b"II":
        e = "<"
    elif data[:2] == b"MM":
        e = ">"
    else:
        raise ValueError("bad TIFF byte-order mark")
    (magic,) = struct.unpack(e + "H", data[2:4])
    if magic != 42:
        raise ValueError("bad TIFF magic")
    (ifd_off,) = struct.unpack(e + "I", data[4:8])
    if ifd_off + 2 > len(data):
        raise ValueError("IFD offset beyond file")
    (n_entries,) = struct.unpack(e + "H", data[ifd_off : ifd_off + 2])
    tags: dict[int, tuple[int, int, int, bytes]] = {}
    for i in range(n_entries):
        o = ifd_off + 2 + 12 * i
        if o + 12 > len(data):
            raise ValueError("IFD entry truncated")
        tag, typ, count = struct.unpack(e + "HHI", data[o : o + 8])
        (raw,) = struct.unpack(e + "I", data[o + 8 : o + 12])
        tags[tag] = (typ, count, raw, data[o + 8 : o + 12])

    _TYPE_SIZE = {1: 1, 3: 2, 4: 4}

    def values(tag: int, default: list[int] | None = None) -> list[int]:
        if tag not in tags:
            if default is not None:
                return default
            raise ValueError(f"missing required TIFF tag {tag}")
        typ, count, raw, field = tags[tag]
        if typ not in _TYPE_SIZE:
            raise ValueError(f"unsupported type {typ} for tag {tag}")
        size = _TYPE_SIZE[typ]
        total = size * count
        if total <= 4:
            # inline values occupy the leading bytes of the 4-byte
            # value field in BOTH byte orders (TIFF 6.0 §2)
            buf = field[:total]
        else:
            if raw + total > len(data):
                raise ValueError(f"tag {tag} value array beyond file")
            buf = data[raw : raw + total]
        fmt = {1: "B", 3: "H", 4: "I"}[typ]
        return list(struct.unpack(f"{e}{count}{fmt}", buf))

    width = values(256)[0]
    height = values(257)[0]
    bps = values(258, [1])
    if bps != [8]:
        raise NotImplementedError(f"BitsPerSample {bps} != [8]")
    spp = values(277, [1])[0]
    if spp != 1:
        raise NotImplementedError(f"SamplesPerPixel {spp} != 1")
    photo = values(262)[0]
    if photo not in (0, 1):
        raise NotImplementedError(f"PhotometricInterpretation {photo}")
    comp = values(259, [1])[0]
    if 322 in tags or 323 in tags:
        # tiled layout: TileWidth/TileLength/TileOffsets/TileByteCounts;
        # tiles pad to full size at the right/bottom edges — crop
        tw = values(322)[0]
        tl = values(323)[0]
        if tw <= 0 or tl <= 0 or tw % 16 or tl % 16:
            raise ValueError("tile dims must be positive multiples of 16")
        offsets = values(324)
        counts = values(325)
        ta = (width + tw - 1) // tw
        td = (height + tl - 1) // tl
        if len(offsets) != len(counts) or len(offsets) != ta * td:
            raise ValueError(
                f"{len(offsets)} tiles but {ta}x{td} expected for "
                f"{width}x{height} at {tw}x{tl}"
            )
        pix = np.zeros((height, width), dtype=np.uint8)
        i = 0
        for ty in range(td):
            for tx in range(ta):
                off, cnt = offsets[i], counts[i]
                i += 1
                if off + cnt > len(data):
                    raise ValueError(
                        f"tile {i - 1} at {off}+{cnt} beyond file"
                    )
                tile = np.frombuffer(
                    _decode_segment(data[off : off + cnt], comp, tw * tl),
                    dtype=np.uint8,
                ).reshape(tl, tw)
                rows = min(tl, height - ty * tl)
                cols = min(tw, width - tx * tw)
                pix[
                    ty * tl : ty * tl + rows, tx * tw : tx * tw + cols
                ] = tile[:rows, :cols]
    else:
        rps = values(278, [height])[0]
        offsets = values(273)
        counts = values(279)
        if len(offsets) != len(counts):
            raise ValueError("StripOffsets/StripByteCounts disagree")
        n_strips_expected = (height + rps - 1) // rps if height else 0
        if len(offsets) != n_strips_expected:
            raise ValueError(
                f"{len(offsets)} strips but {n_strips_expected} expected "
                f"for {height} rows at {rps}/strip"
            )
        out = bytearray()
        for si, (off, cnt) in enumerate(zip(offsets, counts)):
            if off + cnt > len(data):
                raise ValueError(f"strip {si} at {off}+{cnt} beyond file")
            rows = min(rps, height - si * rps)
            out += _decode_segment(data[off : off + cnt], comp, rows * width)
        pix = np.frombuffer(bytes(out), dtype=np.uint8).reshape(
            height, width
        )
    if photo == 0:  # WhiteIsZero: invert to BlackIsZero luma
        pix = 255 - pix
    return {
        "width": width,
        "height": height,
        "n_pixels": width * height,
        "mean_intensity": float(pix.sum()) / max(width * height, 1),
        "pixels": pix,
    }


@register(
    "q_multimodal_decode_tiff",
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
def q_multimodal_decode_tiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through strip-based TIFF: each document's byte plane
    becomes a grayscale TIFF — compression ROTATES by doc_id over
    none/PackBits/TIFF-LZW, the LAYOUT rotates between multi-strip
    and TILED (16x16 tiles, tags 322-325, edge-tile padding cropped
    by the reader), and the BYTE ORDER rotates II/MM, so all twelve
    decompressor x layout x endian paths are on the certified path —
    decoded back via the full IFD walk. Lossless, so
    the oracle is the PNG family's exact mean-intensity recomputation
    (the five raster formats must agree byte-for-byte on what they
    transported)."""
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
    comps = ["none", "packbits", "lzw"]

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ws, hs, np_, mi = [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(payload)
                w = int(doc_id) % 13 + 4
                h = min(len(data) // w, _MAX_HEIGHT)
                gray = data[: w * h]
                comp = comps[int(doc_id) % 3]
                bo = "MM" if int(doc_id) % 12 >= 6 else "II"
                if int(doc_id) % 6 >= 3:
                    tif = encode_tiff_gray8_tiled(
                        w, h, gray, compression=comp, byte_order=bo
                    )
                else:
                    tif = encode_tiff_gray8(
                        w, h, gray, compression=comp, byte_order=bo
                    )
                f = decode_tiff_gray8(tif)
                if (f["width"], f["height"]) != (w, h):
                    raise ValueError("dim mismatch after TIFF round trip")
                if f["pixels"].tobytes() != gray:
                    raise ValueError("pixel mismatch after TIFF round trip")
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
