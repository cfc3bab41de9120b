"""Multimodal-column operators (SURVEY.md §2.2 L).

Images/audio/video are modeled as opaque `binary` payload columns with
typed metadata, processed by Arrow-batched `mapInPandas` operators.
Four REAL codecs run dependency-free: the MIMG synthetic wire format
(struct parse), a complete pure-stdlib grayscale-8 PNG encoder/
decoder (zlib inflate, CRC validation, all five scanline filters), a
baseline grayscale JPEG encoder/decoder (Annex K Huffman entropy
coding, DCT, byte stuffing — tables parsed from the stream), and a
RIFF/WAVE PCM16 audio codec. Only formats like WebP/EXIF remain a
documented Pillow/libav injection point in `decode_image_features`.
"""

from __future__ import annotations

import struct
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from meta_iterative_mapreduce_spark.io import load_table
from meta_iterative_mapreduce_spark.operators.codecs import (
    canonical_codes,
    png_filter,
    png_unfilter,
)
from meta_iterative_mapreduce_spark.registry import register


def _spread(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Round-robin repartition for CPU-bound codec maps, gated on the
    ACTUAL input partition count. The small local fixture is ONE
    parquet file -> ONE input partition, which would funnel every
    decode through a single Python worker; only then is the full
    shuffle worth paying. At 100 TB the scan already yields thousands
    of splits (spark.sql.files.maxPartitionBytes), the gate is false,
    and NO shuffle happens — df.repartition(N) is round-robin and
    would otherwise re-exchange every payload byte, doubling I/O for
    the whole multimodal family. getNumPartitions() is a driver-side
    split computation, not a job. Explicit N (not AQE-subject) so the
    starved case can never be coalesced back to one task."""
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= max(2, target // 2):
        return df
    return df.repartition(target)


def binary_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text re-typed as an opaque binary payload + metadata —
    the stand-in for an image/audio bytes column."""
    d = load_table(spark, sf_dir, "documents").filter(
        # ASCII + >=32-byte guards, mirrored in q_multimodal_decode_stub's
        # oracle (its head window divides by exactly 32)
        (F.length(F.encode("text", "UTF-8")) == F.length("text"))
        & (F.length(F.encode("text", "UTF-8")) >= 32)
    )
    return _spread(
        d.select(
            "doc_id",
            F.encode("text", "UTF-8").alias("payload"),
            F.struct(
                F.lit("text/plain").alias("mime"),
                F.length(F.encode("text", "UTF-8")).alias("n_bytes"),
                F.col("source").alias("origin"),
            ).alias("meta"),
        ),
        spark,
    )


def _fake_decode(payload: bytes) -> dict:
    """Deterministic stand-in for an image decoder: derives 'features'
    from raw bytes only (mean of the first 32 byte values, byte count).
    STUB — replace with a real decoder (PIL/libav/...) in deployment."""
    head = payload[:32]
    return {
        "n_bytes": len(payload),
        "mean32": sum(head) / float(len(head)) if head else 0.0,
    }


def decode_features(
    df: DataFrame, decoder: Callable[[bytes], dict] | None = None
) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    Arrow-batched: each pandas batch maps payload bytes → feature
    columns. Pass a real `decoder` in deployment; default is the
    deterministic fake (the real image path would be
    `decoder=decode_image_features`, which raises until an imaging
    library is available).
    """
    decode = decoder or _fake_decode

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = pdf["payload"].map(decode)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": feats.map(lambda f: f["n_bytes"]).astype("int64"),
                    "mean32": feats.map(lambda f: f["mean32"]).astype("float64"),
                }
            )

    return df.mapInPandas(op, schema="doc_id long, n_bytes long, mean32 double")


# ---------------------------------------------------------------------------
# Real decode path over a deterministic synthetic image format
# ---------------------------------------------------------------------------
#
# Wire format (big-endian): 4-byte magic "MIMG" | u16 width | u16 height
# | width*height pixel bytes. The encoder runs JVM-side (hex/unhex/
# concat — no Python in the encode hot path); the decoder is a REAL
# byte-level parser (struct.unpack + validation) running Arrow-batched
# in mapInPandas — exactly the shape a JPEG/PNG decode takes at 100 TB,
# with the codec swapped for a dependency-free format the oracle can
# recompute in SQL.

_MAGIC = b"MIMG"
_MAX_HEIGHT = 64


def synthetic_image_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, payload binary) — documents packed into the synthetic
    image format. width = doc_id%13+4 (4..16), height = min(n_bytes
    div width, 64); pixel bytes are the leading width*height UTF-8
    bytes of the text. All header math is JVM-side: u16be(x) =
    unhex(lpad(hex(x), 4, '0'))."""
    d = load_table(spark, sf_dir, "documents").filter(
        # ASCII-only guard, mirrored in every consumer's oracle: the
        # char-indexed SQL twin (ascii(SUBSTR(text, i, 1))) only equals
        # byte math when chars == bytes; a regenerated fixture with
        # multibyte text must drop out of BOTH sides identically
        F.length(F.encode("text", "UTF-8")) == F.length("text")
    )
    nb = F.length(F.encode("text", "UTF-8"))
    width = (F.col("doc_id") % 13 + 4).cast("int")
    # height >= 1 guard (bytes >= width), oracle-mirrored: a zero-area
    # image would decode Spark-side (mean 0.0) but vanish from the
    # oracle's UNNEST grid
    d = d.filter(nb >= F.col("doc_id") % 13 + 4)
    height = F.least(F.floor(nb / width), F.lit(_MAX_HEIGHT)).cast("int")

    def u16be(c):
        return F.unhex(F.lpad(F.hex(c), 4, "0"))

    payload = F.concat(
        F.lit(_MAGIC),
        u16be(width),
        u16be(height),
        F.encode("text", "UTF-8"),
    )
    return _spread(d.select("doc_id", payload.alias("payload")), spark)


def decode_synthetic_image(payload: bytes) -> dict:
    """Parse the MIMG wire format: validate magic, read u16be dims,
    slice the pixel plane, compute mean intensity. Raises on corrupt
    payloads (bad magic / truncated pixel plane) like a real codec."""
    import struct

    magic, w, h = struct.unpack(">4sHH", bytes(payload[:8]))
    if magic != _MAGIC:
        raise ValueError(f"bad magic {magic!r}")
    pix = bytes(payload[8 : 8 + w * h])
    if len(pix) != w * h:
        raise ValueError(f"truncated pixel plane: {len(pix)} < {w * h}")
    return {
        "width": w,
        "height": h,
        "n_pixels": len(pix),
        "mean_intensity": (sum(pix) / len(pix)) if pix else 0.0,
    }


def decode_synthetic_features(df: DataFrame) -> DataFrame:
    """Arrow-batched mapInPandas over (doc_id, payload) running the
    real byte-level decoder per payload."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decode_synthetic_image(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": pd.Series([f["width"] for f in feats], dtype="int32"),
                    "height": pd.Series([f["height"] for f in feats], dtype="int32"),
                    "n_pixels": pd.Series(
                        [f["n_pixels"] for f in feats], dtype="int64"
                    ),
                    "mean_intensity": pd.Series(
                        [f["mean_intensity"] for f in feats], dtype="float64"
                    ),
                }
            )

    return df.mapInPandas(
        op,
        schema="doc_id long, width int, height int, n_pixels long, "
        "mean_intensity double",
    )


@register(
    "q_multimodal_decode",
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
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode path: JVM-side encode into the MIMG synthetic image
    format, then byte-level struct parse + pixel-plane stats in
    Arrow-batched mapInPandas. The oracle recomputes the identical
    features from the source text in SQL (texts are ASCII, so
    ascii(char) == pixel byte; the single sum/count division is
    engine-deterministic)."""
    return decode_synthetic_features(synthetic_image_payloads(spark, sf_dir))


def resize_2x2_pool(payload: bytes) -> dict:
    """2×2 mean-pool downsample of the MIMG pixel plane (odd edge rows/
    cols cropped) — the numpy reshape-pool every real thumbnailing
    pipeline runs, on the dependency-free codec."""
    import struct

    import numpy as np

    magic, w, h = struct.unpack(">4sHH", bytes(payload[:8]))
    if magic != _MAGIC:
        raise ValueError(f"bad magic {magic!r}")
    pix = np.frombuffer(bytes(payload[8 : 8 + w * h]), dtype=np.uint8)
    if pix.size != w * h:
        raise ValueError("truncated pixel plane")
    w2, h2 = w // 2, h // 2
    plane = pix.reshape(h, w)[: 2 * h2, : 2 * w2].astype(np.float64)
    pooled = plane.reshape(h2, 2, w2, 2).mean(axis=(1, 3))
    return {
        "new_w": w2,
        "new_h": h2,
        "pooled_sum": float(pooled.sum()),
    }


@register(
    "q_multimodal_resize",
    oracle="""
    WITH dims AS (
        SELECT doc_id, text,
               CAST(doc_id % 13 + 4 AS INT) AS w,
               CAST(LEAST(octet_length(encode(text)) // (doc_id % 13 + 4),
                          64) AS INT) AS h
        FROM documents
        WHERE octet_length(encode(text)) = length(text)
          AND octet_length(encode(text)) >= doc_id % 13 + 4
    )
    SELECT d.doc_id,
           CAST(d.w // 2 AS INT) AS new_w,
           CAST(d.h // 2 AS INT) AS new_h,
           ROUND(SUM(CASE WHEN ((t.i - 1) // d.w) < 2 * (d.h // 2)
                           AND ((t.i - 1) % d.w) < 2 * (d.w // 2)
                          THEN ascii(SUBSTR(d.text, CAST(t.i AS INT), 1))
                          ELSE 0 END) / 4.0, 4) AS pooled_sum
    FROM dims d,
         UNNEST(generate_series(1, d.w * d.h)) AS t(i)
    GROUP BY d.doc_id, d.w, d.h
    """,
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize (2×2 mean pooling) over MIMG payloads in
    Arrow-batched mapInPandas. The oracle recomputes the pooled-plane
    sum from the source bytes: every kept pixel lands in exactly one
    2×2 block, so Σ pooled = Σ cropped-pixels / 4 (cropping is
    position arithmetic on the flat index)."""
    src = synthetic_image_payloads(spark, sf_dir)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [resize_2x2_pool(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "new_w": pd.Series([f["new_w"] for f in feats], dtype="int32"),
                    "new_h": pd.Series([f["new_h"] for f in feats], dtype="int32"),
                    "pooled_sum": pd.Series(
                        [round(f["pooled_sum"], 4) for f in feats],
                        dtype="float64",
                    ),
                }
            )

    return src.mapInPandas(
        op, schema="doc_id long, new_w int, new_h int, pooled_sum double"
    )


_FRAME_BYTES = 32  # bytes per "video frame" in the frame-sample op
_FRAME_STRIDE = 4  # keep every 4th frame


@register(
    "q_multimodal_frame_sample",
    oracle=f"""
    WITH framed AS (
        SELECT doc_id, text,
               octet_length(encode(text)) // {_FRAME_BYTES} AS n_frames
        FROM documents
        WHERE octet_length(encode(text)) = length(text)
    )
    SELECT d.doc_id,
           CAST(s.f AS INT) AS frame_idx,
           SUM(ascii(SUBSTR(d.text,
                     CAST(s.f * {_FRAME_BYTES} + t.i AS INT), 1)))
                 / {_FRAME_BYTES}.0 AS frame_mean
    FROM framed d,
         UNNEST(generate_series(0, d.n_frames - 1, {_FRAME_STRIDE})) AS s(f),
         UNNEST(generate_series(1, {_FRAME_BYTES})) AS t(i)
    WHERE d.n_frames > 0
    GROUP BY d.doc_id, s.f
    """,
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling: treat each document's byte stream as
    fixed-size frames, keep every {stride}-th frame, and emit a
    per-frame mean intensity — one input row fanning out to its
    sampled frames inside mapInPandas (the decode-side shape of a
    frame-subsampling video pipeline)."""
    d = load_table(spark, sf_dir, "documents").filter(
        # same ASCII guard as synthetic_image_payloads (oracle-mirrored)
        F.length(F.encode("text", "UTF-8")) == F.length("text")
    )
    src = d.select("doc_id", F.encode("text", "UTF-8").alias("payload"))

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_doc, out_idx, out_mean = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(payload)
                n_frames = len(data) // _FRAME_BYTES
                for f in range(0, n_frames, _FRAME_STRIDE):
                    frame = data[f * _FRAME_BYTES : (f + 1) * _FRAME_BYTES]
                    out_doc.append(doc_id)
                    out_idx.append(f)
                    # int-sum / 32 is an exact dyadic rational — emit
                    # RAW (bit-identical across engines); rounding it
                    # would reintroduce banker's-vs-half-up tie skew
                    out_mean.append(sum(frame) / _FRAME_BYTES)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_doc, dtype="int64"),
                    "frame_idx": pd.Series(out_idx, dtype="int32"),
                    "frame_mean": pd.Series(out_mean, dtype="float64"),
                }
            )

    return src.mapInPandas(
        op, schema="doc_id long, frame_idx int, frame_mean double"
    )


# ---------------------------------------------------------------------------
# Real PNG codec — pure stdlib (zlib + struct), no imaging libraries
# ---------------------------------------------------------------------------
#
# A complete, spec-faithful grayscale-8 PNG path: the encoder emits
# signature + IHDR + IDAT (zlib-deflated filtered scanlines) + IEND
# with correct CRC32s; the decoder walks the chunk stream, validates
# CRCs, concatenates multi-IDAT payloads, inflates, and un-filters
# every scanline supporting ALL FIVE PNG filter types (None/Sub/Up/
# Average/Paeth, RFC 2083 §6) — so it decodes grayscale-8 PNGs from
# any writer, not just its own. Color types beyond grayscale-8 raise
# with a clear scope message (that is where Pillow would slot in).

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


# Adam7 pass grid (RFC 2083 §2): (x0, y0, dx, dy) per pass; each
# non-empty pass is an independently-filtered sub-image.
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def encode_png_gray8(
    width: int,
    height: int,
    pix: bytes,
    filter_type: int = 0,
    interlace: bool = False,
) -> bytes:
    """Encode an 8-bit grayscale pixel plane as a valid PNG.

    `filter_type` selects the per-scanline PNG filter (0..4) so tests
    can exercise every branch of the decoder's un-filter logic; real
    encoders pick per-line, which changes bytes but not decoded pixels.
    `interlace` stores the image in Adam7 order: seven independently
    filtered sub-images on the 8x8 pass grid."""
    import zlib

    import struct

    if len(pix) != width * height:
        raise ValueError("pixel plane size != width*height")
    ihdr = struct.pack(
        ">IIBBBBB", width, height, 8, 0, 0, 0, 1 if interlace else 0
    )
    if interlace:
        parts = []
        for x0, y0, dx, dy in _ADAM7:
            cols = range(x0, width, dx)
            prows = range(y0, height, dy)
            if not cols or not prows:
                continue  # empty pass emits nothing, per spec
            sub = bytes(
                pix[r * width + c] for r in prows for c in cols
            )
            parts.append(
                png_filter(sub, len(cols), len(prows), filter_type)
            )
        idat = zlib.compress(b"".join(parts))
    else:
        idat = zlib.compress(
            png_filter(pix, width, height, filter_type)
        )
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def decode_png_gray8(payload: bytes) -> dict:
    """Parse a PNG byte stream: signature, chunk walk with CRC32
    validation, IHDR dims, multi-IDAT inflate, and full 5-filter
    scanline reconstruction. Returns width/height/n_pixels/mean like
    the MIMG decoder. Raises ValueError on corrupt input (bad
    signature, CRC mismatch, truncated stream) and NotImplementedError
    on color types outside grayscale-8 scope."""
    import struct
    import zlib

    data = bytes(payload)
    if data[:8] != _PNG_SIG:
        raise ValueError("bad PNG signature")
    pos, width, height, idat = 8, None, None, b""
    while pos < len(data):
        if pos + 8 > len(data):
            raise ValueError("truncated chunk header")
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if len(body) != length or pos + 12 + length > len(data):
            raise ValueError("truncated chunk body")
        (crc,) = struct.unpack(">I", data[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in {ctype!r}")
        if ctype == b"IHDR":
            width, height, depth, ctype_png, comp, filt, ilace = struct.unpack(
                ">IIBBBBB", body
            )
            if (depth, ctype_png) != (8, 0):
                raise NotImplementedError(
                    "only 8-bit grayscale PNGs decoded here; other color "
                    "types need an imaging library (Pillow injection point)"
                )
            if comp != 0 or filt != 0 or ilace not in (0, 1):
                raise NotImplementedError(
                    "unsupported compression/filter-method/interlace code"
                )
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if width is None or not idat:
        raise ValueError("missing IHDR or IDAT")
    raw = zlib.decompress(idat)
    if ilace == 1:  # Adam7: seven independently-filtered sub-images
        arr = bytearray(width * height)
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = len(range(x0, width, dx))
            ph = len(range(y0, height, dy))
            if pw == 0 or ph == 0:
                continue
            need = (pw + 1) * ph
            if off + need > len(raw):
                raise ValueError("Adam7 pass truncated")
            sub = png_unfilter(raw[off : off + need], pw, ph)
            off += need
            i = 0
            for r in range(y0, height, dy):
                base = r * width
                for c in range(x0, width, dx):
                    arr[base + c] = sub[i]
                    i += 1
        if off != len(raw):
            raise ValueError("Adam7 data longer than its passes")
        pix = bytes(arr)
    else:
        if len(raw) != (width + 1) * height:
            raise ValueError("inflated size != (width+1)*height")
        pix = png_unfilter(raw, width, height)
    return {
        "width": width,
        "height": height,
        "n_pixels": len(pix),
        "mean_intensity": (sum(pix) / len(pix)) if pix else 0.0,
        "pixels": pix,
    }


def synthetic_png_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, payload binary) — documents encoded as REAL grayscale-8
    PNGs inside Arrow-batched mapInPandas (zlib deflate is Python-side
    by necessity; at 100 TB this is exactly where image transcode CPU
    lives and it parallelizes per input partition). Same dims as the
    MIMG fixture: width = doc_id%13+4, height = min(n_bytes//width, 64),
    pixels = leading width*height UTF-8 bytes of the text."""
    d = load_table(spark, sf_dir, "documents").filter(
        # same ASCII guard as synthetic_image_payloads (oracle-mirrored)
        F.length(F.encode("text", "UTF-8")) == F.length("text")
    )
    d = d.filter(
        # height >= 1 guard, oracle-mirrored (see synthetic_image_payloads)
        F.length(F.encode("text", "UTF-8")) >= F.col("doc_id") % 13 + 4
    )
    src = _spread(
        d.select("doc_id", F.encode("text", "UTF-8").alias("payload")), spark
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(payload)
                w = int(doc_id) % 13 + 4
                h = min(len(data) // w, _MAX_HEIGHT)
                # rotate the scanline filter AND Adam7 interlace so
                # every decoder branch sits on the certified path
                out.append(
                    encode_png_gray8(
                        w,
                        h,
                        data[: w * h],
                        filter_type=int(doc_id) % 5,
                        interlace=(int(doc_id) // 5) % 2 == 1,
                    )
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": out}
            )

    return src.mapInPandas(op, schema="doc_id long, payload binary")


@register(
    "q_multimodal_decode_png",
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
def q_multimodal_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through a REAL public image format: documents encoded
    as grayscale-8 PNGs (zlib+struct, spec-correct CRCs) then decoded
    by the full chunk-walking, CRC-checking, 5-filter PNG parser — both
    sides Arrow-batched mapInPandas. The oracle recomputes the decoded
    (width, height, mean) from the source text, so a hash match proves
    the codec reconstructs every pixel exactly."""
    src = synthetic_png_payloads(spark, sf_dir)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decode_png_gray8(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": pd.Series([f["width"] for f in feats], dtype="int32"),
                    "height": pd.Series([f["height"] for f in feats], dtype="int32"),
                    "n_pixels": pd.Series(
                        [f["n_pixels"] for f in feats], dtype="int64"
                    ),
                    "mean_intensity": pd.Series(
                        [f["mean_intensity"] for f in feats], dtype="float64"
                    ),
                }
            )

    return src.mapInPandas(
        op,
        schema="doc_id long, width int, height int, n_pixels long, "
        "mean_intensity double",
    )


def decode_image_features(payload: bytes) -> dict:
    """Format-dispatching raster decode: real pure-stdlib/numpy
    decoders for PNG, baseline JPEG (gray AND YCbCr color — see
    decode_jpeg_color), lossless WebP (VP8L — see operators/webp.py),
    and the synthetic MIMG format; only formats whose codecs genuinely
    aren't on this box (AVIF/HEIC/...) remain a documented Pillow
    injection point."""
    head = bytes(payload[:12])
    if head[:4] == b"RIFF" and head[8:12] == b"WEBP":
        from meta_iterative_mapreduce_spark.operators.webp import (
            decode_webp_lossless,
        )

        f = decode_webp_lossless(payload)
        return {
            "width": f["width"],
            "height": f["height"],
            "n_pixels": f["n_pixels"],
            "mean_intensity": (f["sum_r"] + f["sum_g"] + f["sum_b"])
            / (3.0 * f["n_pixels"]),
        }
    if head[:4] == _MAGIC:
        return decode_synthetic_image(payload)
    if head[:4] in (b"II*\x00", b"MM\x00*"):
        from meta_iterative_mapreduce_spark.operators.tiff import (
            decode_tiff_gray8,
        )

        f = decode_tiff_gray8(payload)
        return {k: f[k] for k in ("width", "height", "n_pixels", "mean_intensity")}
    if head[:6] in (b"GIF87a", b"GIF89a"):
        from meta_iterative_mapreduce_spark.operators.gif import (
            decode_gif_gray8,
        )

        f = decode_gif_gray8(payload)
        return {k: f[k] for k in ("width", "height", "n_pixels", "mean_intensity")}
    if head[:8] == _PNG_SIG:
        f = decode_png_gray8(payload)
        return {k: f[k] for k in ("width", "height", "n_pixels", "mean_intensity")}
    if head[:2] == b"\xFF\xD8":
        f = decode_jpeg_color(payload)  # reads gray + color streams
        pix = f["pixels"]
        return {
            "width": f["width"],
            "height": f["height"],
            "n_pixels": f["width"] * f["height"],
            "mean_intensity": float(pix.astype(np.float64).mean()),
        }
    try:
        import PIL.Image  # noqa: F401
    except ImportError as exc:  # pragma: no cover - environment-dependent
        raise NotImplementedError(
            "non-PNG/JPEG/WebP/MIMG image decoding requires an imaging "
            "library (e.g. Pillow); inject a decoder via "
            "decode_features(df, decoder=...)"
        ) from exc
    raise NotImplementedError(
        "format not handled by the built-in PNG/JPEG/WebP/MIMG codecs; "
        "inject a Pillow-backed decoder via decode_features(df, decoder=...)"
    )


@register(
    "q_multimodal_decode_stub",
    oracle="""
    SELECT d.doc_id,
           CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes,
           SUM(ascii(SUBSTR(d.text, CAST(t.i AS INT), 1)))
               / 32.0 AS mean32
    FROM documents d,
         UNNEST(generate_series(1, 32)) AS t(i)
    WHERE octet_length(encode(d.text)) = length(d.text)
      AND octet_length(encode(d.text)) >= 32
    GROUP BY d.doc_id, d.text
    """,
)
def q_multimodal_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload → mapInPandas feature extraction (deterministic
    fake decoder; the oracle recomputes the same bytes math in SQL —
    texts are ASCII so ascii(char) == byte value, and all are ≥32
    bytes so the head window is exactly 32)."""
    return decode_features(binary_payloads(spark, sf_dir))


@register(
    "q_multimodal_struct",
    oracle="""
    SELECT d.doc_id, d.lang, e.label,
           CAST(LENGTH(string_split(d.text, ' ')) AS INT) AS n_tokens,
           ROUND(sqrt(list_sum(list_transform(e.embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS emb_norm
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    """,
)
def q_multimodal_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal record assembly: text stats + embedding norm zipped
    into a struct per document (documents ⋈ embeddings on id), then
    flattened for engine-neutral hashing."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    norm = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    joined = d.join(e, d.doc_id == e.vec_id).select(
        "doc_id",
        F.struct(
            F.col("lang"),
            F.col("label"),
            F.size(F.split("text", " ")).alias("n_tokens"),
            F.round(norm, 4).alias("emb_norm"),
        ).alias("rec"),
    )
    return joined.select(
        "doc_id",
        F.col("rec.lang").alias("lang"),
        F.col("rec.label").alias("label"),
        F.col("rec.n_tokens").alias("n_tokens"),
        F.col("rec.emb_norm").alias("emb_norm"),
    )


# ---------------------------------------------------------------------------
# Real WAV codec — pure stdlib (struct), the audio modality analog of
# the PNG path: spec-correct RIFF/WAVE PCM16 container, full chunk-walk
# decode with validation.
# ---------------------------------------------------------------------------

_WAV_RATE = 8000


def _g711_ulaw_to_linear(u: int) -> int:
    """ITU-T G.711 µ-law code byte → 16-bit linear sample (the
    telephony standard's published expansion: complement, 4-bit
    mantissa + bias 0x84, 3-bit segment shift)."""
    u = ~u & 0xFF
    t = ((u & 0x0F) << 3) + 0x84
    t <<= (u & 0x70) >> 4
    return (0x84 - t) if (u & 0x80) else (t - 0x84)


def _g711_alaw_to_linear(a: int) -> int:
    """ITU-T G.711 A-law code byte → 16-bit linear sample (XOR 0x55
    toggle-bit mask, segmented expansion)."""
    a ^= 0x55
    t = (a & 0x0F) << 4
    seg = (a & 0x70) >> 4
    if seg == 0:
        t += 8
    elif seg == 1:
        t += 0x108
    else:
        t = (t + 0x108) << (seg - 1)
    return t if (a & 0x80) else -t


# full expansion tables (256 entries each) — pure table math, exactly
# reconstructible, so the DuckDB oracle can carry the same table as a
# literal list (the audio analog of broadcast model weights)
_ULAW2LIN: tuple[int, ...] = tuple(_g711_ulaw_to_linear(u) for u in range(256))
_ALAW2LIN: tuple[int, ...] = tuple(_g711_alaw_to_linear(a) for a in range(256))

# numpy copies of the tables for vectorized decode (guide §4.2: hand
# whole batches to native code — the per-byte Python loops made
# q_multimodal_audio_wav sample-bound, 5.3 s at sf0.1)
_ULAW2LIN_NP = np.array(_ULAW2LIN, dtype=np.int64)
_ALAW2LIN_NP = np.array(_ALAW2LIN, dtype=np.int64)

# WAVE format codes (RIFF spec): PCM / A-law / µ-law
_WAV_FMT_PCM, _WAV_FMT_ALAW, _WAV_FMT_ULAW = 1, 6, 7


def _wav_container(fmt: bytes, data: bytes) -> bytes:
    """RIFF/WAVE container around a prepared fmt chunk and data chunk."""
    import struct

    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_wav_pcm16_bytes(data: bytes, rate: int = _WAV_RATE) -> bytes:
    """Encode an already-little-endian int16 sample buffer as a valid
    PCM16 WAV file — the zero-copy fast path of encode_wav_pcm16
    (byte pairs ARE the samples; packing an unpacked copy is a no-op
    round trip the vectorized audio operator skips)."""
    import struct

    if len(data) % 2:
        raise ValueError("odd PCM16 data length")
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    return _wav_container(fmt, bytes(data))


def encode_wav_pcm16(samples: list[int], rate: int = _WAV_RATE) -> bytes:
    """Encode signed 16-bit mono PCM samples as a valid WAV file:
    RIFF header, fmt chunk (PCM, 1 channel), data chunk."""
    arr = np.asarray(samples, dtype=np.int64)
    if arr.size and (arr.max() > 32767 or arr.min() < -32768):
        raise ValueError("sample out of int16 range")
    return encode_wav_pcm16_bytes(arr.astype("<i2").tobytes(), rate)


def encode_wav_g711(codes: bytes, law: str, rate: int = _WAV_RATE) -> bytes:
    """Encode raw G.711 code bytes (one byte per sample) as a valid
    WAV file with format code 7 (µ-law) or 6 (A-law), 8 bits/sample,
    mono — the telephony container shape."""
    import struct

    fmt_code = {"ulaw": _WAV_FMT_ULAW, "alaw": _WAV_FMT_ALAW}[law]
    fmt = struct.pack("<HHIIHH", fmt_code, 1, rate, rate, 1, 8)
    return _wav_container(fmt, bytes(codes))


def decode_wav_pcm16(payload: bytes) -> dict:
    """Parse a WAV byte stream: RIFF/WAVE magic, chunk walk to fmt and
    data, then sample decode per the fmt chunk's format code — linear
    PCM16 (1), A-law (6) or µ-law (7, both expanded through the exact
    G.711 tables to 16-bit linear). Returns n_samples, rate, the
    decoded samples tuple, and the EXACT integer sum of squared
    samples (engine-neutral — no float summation order). Raises
    ValueError on corrupt input and NotImplementedError outside the
    mono PCM16/G.711 scope. (Name kept from the PCM16-only era; it is
    the module's general WAV decoder.)"""
    import struct

    data = bytes(payload)
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("bad RIFF/WAVE header")
    (riff_len,) = struct.unpack("<I", data[4:8])
    if riff_len + 8 != len(data):
        raise ValueError("RIFF length mismatch")
    pos, fmt_params, raw = 12, None, None
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        (clen,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + clen]
        if len(body) != clen:
            raise ValueError(f"truncated {cid!r} chunk")
        if cid == b"fmt ":
            fmt_params = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            raw = body
        pos += 8 + clen
    if fmt_params is None or raw is None:
        raise ValueError("missing fmt or data chunk")
    audio_fmt, n_ch, rate, _, _, bits = fmt_params
    # vectorized decode (guide §4.2): samples come back as an int64
    # numpy array and sum_sq is one native reduction — the per-byte
    # Python loops made the full-corpus audio scan sample-bound
    if (audio_fmt, n_ch, bits) == (_WAV_FMT_PCM, 1, 16):
        if len(raw) % 2:
            raise ValueError("odd PCM16 data length")
        samples = np.frombuffer(raw, dtype="<i2").astype(np.int64)
    elif (audio_fmt, n_ch, bits) == (_WAV_FMT_ULAW, 1, 8):
        samples = _ULAW2LIN_NP[np.frombuffer(raw, dtype=np.uint8)]
    elif (audio_fmt, n_ch, bits) == (_WAV_FMT_ALAW, 1, 8):
        samples = _ALAW2LIN_NP[np.frombuffer(raw, dtype=np.uint8)]
    else:
        raise NotImplementedError(
            "only mono PCM16 / G.711 u-law / A-law decoded here "
            "(codec injection point)"
        )
    return {
        "n_samples": int(samples.size),
        "sample_rate": rate,
        "sum_sq": int((samples * samples).sum()),
        "samples": samples,
    }


@register(
    "q_multimodal_audio_wav",
    oracle=f"""
    WITH src AS (
        SELECT doc_id, text,
               octet_length(encode(text)) AS nb,
               CAST(doc_id % 3 AS INT) AS variant
        FROM documents
        WHERE octet_length(encode(text)) = length(text)
          AND octet_length(encode(text)) >= 2
    ),
    tabs AS (
        SELECT {list(_ULAW2LIN)} AS ul, {list(_ALAW2LIN)} AS al
    ),
    pcm AS (
        SELECT s.doc_id,
               CAST(s.nb // 2 AS BIGINT) AS n_samples,
               CAST(SUM(CAST(ascii(SUBSTR(s.text, CAST(2 * t.i - 1 AS INT), 1))
                        + 256 * ascii(SUBSTR(s.text, CAST(2 * t.i AS INT), 1))
                        AS BIGINT)
                   * (ascii(SUBSTR(s.text, CAST(2 * t.i - 1 AS INT), 1))
                      + 256 * ascii(SUBSTR(s.text, CAST(2 * t.i AS INT), 1))))
                   AS BIGINT) AS sum_sq
        FROM src s, UNNEST(generate_series(1, s.nb // 2)) AS t(i)
        WHERE s.variant = 0
        GROUP BY s.doc_id, s.nb
    ),
    g711 AS (
        SELECT x.doc_id,
               CAST(x.nb AS BIGINT) AS n_samples,
               CAST(SUM(CAST(x.v AS BIGINT) * x.v) AS BIGINT) AS sum_sq
        FROM (
            SELECT s.doc_id, s.nb,
                   list_extract(
                       CASE WHEN s.variant = 1 THEN tabs.ul ELSE tabs.al END,
                       ascii(SUBSTR(s.text, CAST(t.i AS INT), 1)) + 1
                   ) AS v
            FROM src s CROSS JOIN tabs,
                 UNNEST(generate_series(1, s.nb)) AS t(i)
            WHERE s.variant IN (1, 2)
        ) x
        GROUP BY x.doc_id, x.nb
    )
    SELECT doc_id, n_samples, 8000 AS sample_rate, sum_sq FROM pcm
    UNION ALL
    SELECT doc_id, n_samples, 8000 AS sample_rate, sum_sq FROM g711
    """,
)
def q_multimodal_audio_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio modality through a REAL public container, THREE encodings
    rotating by doc_id%3: linear PCM16 (document byte pairs become
    little-endian samples), G.711 u-LAW and G.711 A-LAW (each byte a
    telephony code byte, WAV format codes 7/6, decoded through the
    exact ITU expansion tables) — spec-correct RIFF + fmt + data
    containers, full chunk-walking parser, both sides Arrow-batched
    mapInPandas. The oracle rebuilds PCM samples from character pairs
    (ASCII guard: chars == bytes) and expands G.711 codes through the
    SAME public 256-entry tables carried as SQL literals (the audio
    analog of broadcast model weights), summing exact integer squares
    — a hash match proves sample-exact decode across all three
    encodings."""
    import struct

    d = load_table(spark, sf_dir, "documents").filter(
        (F.length(F.encode("text", "UTF-8")) == F.length("text"))
        & (F.length(F.encode("text", "UTF-8")) >= 2)
    )
    src = _spread(
        d.select("doc_id", F.encode("text", "UTF-8").alias("payload")), spark
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(payload)
                variant = int(doc_id) % 3
                if variant == 0:
                    n = len(data) // 2
                    # document byte pairs ARE little-endian int16
                    # samples; unpack+repack was an identity round
                    # trip paid per sample
                    out.append(encode_wav_pcm16_bytes(data[: 2 * n]))
                elif variant == 1:
                    out.append(encode_wav_g711(data, "ulaw"))
                else:
                    out.append(encode_wav_g711(data, "alaw"))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": out})

    wavs = src.mapInPandas(op, schema="doc_id long, payload binary")

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decode_wav_pcm16(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_samples": pd.Series(
                        [f["n_samples"] for f in feats], dtype="int64"
                    ),
                    "sample_rate": pd.Series(
                        [f["sample_rate"] for f in feats], dtype="int32"
                    ),
                    "sum_sq": pd.Series([f["sum_sq"] for f in feats], dtype="int64"),
                }
            )

    return wavs.mapInPandas(
        dec, schema="doc_id long, n_samples long, sample_rate int, sum_sq long"
    )


# ---------------------------------------------------------------------------
# Perceptual average-hash (aHash) image near-dup — the image-side
# analog of q_dedup_simhash: 4×4 block means over the decoded pixel
# plane, one bit per block (block mean > global mean), 16-bit hash,
# dedup = group-by-hash. The mean comparison is done in INTEGER cross
# multiplication (cell_sum * total_n > total_sum * cell_n) so the hash
# is bit-exact across engines and the DuckDB oracle can recompute it
# from the source text — a perceptual hash with a hash-green oracle.
# ---------------------------------------------------------------------------

_AHASH_GRID = 4


def ahash_16(payload: bytes) -> int:
    """16-bit average hash of an MIMG payload: decode, assign each
    pixel (row, col) to block (row*4//h, col*4//w), set bit b of the
    hash iff block b's mean exceeds the global mean (exact integer
    cross-multiply). Requires h >= 4 (callers filter)."""
    import struct

    import numpy as np

    magic, w, h = struct.unpack(">4sHH", bytes(payload[:8]))
    if magic != _MAGIC:
        raise ValueError(f"bad magic {magic!r}")
    pix = np.frombuffer(bytes(payload[8 : 8 + w * h]), dtype=np.uint8)
    if pix.size != w * h:
        raise ValueError("truncated pixel plane")
    g = _AHASH_GRID
    rows = np.arange(h, dtype=np.int64) * g // h
    cols = np.arange(w, dtype=np.int64) * g // w
    cell = (rows[:, None] * g + cols[None, :]).ravel()
    cs = np.bincount(cell, weights=pix.astype(np.int64), minlength=g * g)
    cn = np.bincount(cell, minlength=g * g)
    ts, tn = int(pix.sum()), int(pix.size)
    bits = (cs.astype(np.int64) * tn) > (ts * cn.astype(np.int64))
    return int((bits.astype(np.int64) << np.arange(g * g)).sum())


@register(
    "q_multimodal_phash",
    oracle=f"""
    WITH dims AS (
        SELECT doc_id, text,
               CAST(doc_id % 13 + 4 AS INT) AS w,
               CAST(LEAST(octet_length(encode(text)) // (doc_id % 13 + 4),
                          64) AS INT) AS h
        FROM documents
        WHERE octet_length(encode(text)) = length(text)
          AND octet_length(encode(text)) >= (doc_id % 13 + 4) * {_AHASH_GRID}
          AND LEAST(octet_length(encode(text)) // (doc_id % 13 + 4), 64)
              >= {_AHASH_GRID}
    ), px AS (
        SELECT d.doc_id, d.w, d.h,
               ((t.i - 1) // d.w) * {_AHASH_GRID} // d.h * {_AHASH_GRID}
                   + ((t.i - 1) % d.w) * {_AHASH_GRID} // d.w AS cell,
               ascii(SUBSTR(d.text, CAST(t.i AS INT), 1)) AS v
        FROM dims d,
             UNNEST(generate_series(1, d.w * d.h)) AS t(i)
    ), cells AS (
        SELECT doc_id, cell, SUM(v) AS cs, COUNT(*) AS cn
        FROM px GROUP BY doc_id, cell
    ), tot AS (
        SELECT doc_id, SUM(cs) AS ts, SUM(cn) AS tn
        FROM cells GROUP BY doc_id
    ), hashes AS (
        SELECT c.doc_id,
               CAST(SUM(CASE WHEN c.cs * t.tn > t.ts * c.cn
                             THEN CAST(1 AS BIGINT) << CAST(c.cell AS INT)
                             ELSE 0 END) AS BIGINT) AS ahash
        FROM cells c JOIN tot t USING (doc_id)
        GROUP BY c.doc_id
    )
    SELECT ahash, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
    FROM hashes GROUP BY ahash
    """,
)
def q_multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup: 16-bit average hash (4×4 block
    means vs global mean) over REAL byte-decoded MIMG pixel planes in
    Arrow-batched mapInPandas, then ONE hash aggregate groups
    near-identical images. Identical images hash identically by
    construction; the integer cross-multiply bit rule makes the hash
    bit-exact, so the DuckDB oracle recomputes it from source text and
    a hash match proves exact pixel → hash reconstruction. At 100 TB
    this is the standard image-dedup tier: decode+hash is map-side
    embarrassingly parallel, the only shuffle is the 16-bit-key
    aggregate (vs q_dedup_simhash's text-side analog)."""
    src = synthetic_image_payloads(spark, sf_dir)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_id, out_hash = [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                import struct

                _, _, h = struct.unpack(">4sHH", bytes(p[:8]))
                if h < _AHASH_GRID:
                    continue
                out_id.append(doc_id)
                out_hash.append(ahash_16(p))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_id, dtype="int64"),
                    "ahash": pd.Series(out_hash, dtype="int64"),
                }
            )

    hashes = src.mapInPandas(op, schema="doc_id long, ahash long")
    return hashes.groupBy("ahash").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_id")
    )


# Pigeonhole blocking for aHash near-dup pairs: 16 bits split 6/5/5.
# Hamming distance <= 2 flips bits in at most 2 blocks, so every true
# pair agrees EXACTLY on >= 1 block (d < n_blocks) — the same exact-
# recall argument as the SimHash 4x15-bit scheme (dedup.py), at image-
# hash width.
_PHASH_BLOCKS = ((0, 6), (6, 5), (11, 5))  # (shift, width)
_PHASH_MAX_HAMMING = 2


@register(
    "q_multimodal_phash_pairs",
    oracle=f"""
    WITH dims AS (
        SELECT doc_id, text,
               CAST(doc_id % 13 + 4 AS INT) AS w,
               CAST(LEAST(octet_length(encode(text)) // (doc_id % 13 + 4),
                          64) AS INT) AS h
        FROM documents
        WHERE octet_length(encode(text)) = length(text)
          AND octet_length(encode(text)) >= (doc_id % 13 + 4) * {_AHASH_GRID}
          AND LEAST(octet_length(encode(text)) // (doc_id % 13 + 4), 64)
              >= {_AHASH_GRID}
    ), px AS (
        SELECT d.doc_id, d.w, d.h,
               ((t.i - 1) // d.w) * {_AHASH_GRID} // d.h * {_AHASH_GRID}
                   + ((t.i - 1) % d.w) * {_AHASH_GRID} // d.w AS cell,
               ascii(SUBSTR(d.text, CAST(t.i AS INT), 1)) AS v
        FROM dims d,
             UNNEST(generate_series(1, d.w * d.h)) AS t(i)
    ), cells AS (
        SELECT doc_id, cell, SUM(v) AS cs, COUNT(*) AS cn
        FROM px GROUP BY doc_id, cell
    ), tot AS (
        SELECT doc_id, SUM(cs) AS ts, SUM(cn) AS tn
        FROM cells GROUP BY doc_id
    ), hashes AS (
        SELECT c.doc_id,
               CAST(SUM(CASE WHEN c.cs * t.tn > t.ts * c.cn
                             THEN CAST(1 AS BIGINT) << CAST(c.cell AS INT)
                             ELSE 0 END) AS BIGINT) AS ahash
        FROM cells c JOIN tot t USING (doc_id)
        GROUP BY c.doc_id
    ), hgroups AS (
        SELECT ahash, COUNT(*) AS n_docs FROM hashes GROUP BY ahash
    )
    SELECT a.ahash AS hash_a, b.ahash AS hash_b,
           CAST(bit_count(CAST(xor(a.ahash, b.ahash) AS BIGINT))
               AS BIGINT) AS hamming,
           a.n_docs AS n_docs_a, b.n_docs AS n_docs_b
    FROM hgroups a JOIN hgroups b
      ON a.ahash < b.ahash
     AND bit_count(CAST(xor(a.ahash, b.ahash) AS BIGINT))
         <= {_PHASH_MAX_HAMMING}
    """,
)
def q_multimodal_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate IMAGE pairs: distinct aHash values within
    Hamming distance 2, via exact-recall 3-block pigeonhole blocking
    (6/5/5 bits — d <= 2 < 3 blocks guarantees one agreeing block),
    with each hash's image count carried along. The pair space is the
    DISTINCT-hash set (the dedup-bucket level), not the image set, so
    output stays bounded at any corpus scale; expanding to image
    pairs is one join per side. The oracle recomputes the hashes from
    source text and brute-forces bit_count(xor) over all hash pairs —
    proving the blocking loses no pair."""
    hashes = (
        q_multimodal_phash(spark, sf_dir)
        .select("ahash", "n_docs")
    )
    blocks = F.array(
        *[
            F.struct(
                F.lit(i).alias("b"),
                F.shiftright("ahash", shift)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("v"),
            )
            for i, (shift, width) in enumerate(_PHASH_BLOCKS)
        ]
    )
    hb = hashes.select(
        "ahash", "n_docs", F.explode(blocks).alias("blk")
    ).select("ahash", "n_docs", "blk.b", "blk.v")
    a, b = hb.alias("a"), hb.alias("b")
    xor = F.col("a.ahash").bitwiseXOR(F.col("b.ahash"))
    return (
        a.join(
            b,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col("a.ahash") < F.col("b.ahash")),
        )
        .select(
            F.col("a.ahash").alias("hash_a"),
            F.col("b.ahash").alias("hash_b"),
            F.bit_count(xor).cast("long").alias("hamming"),
            F.col("a.n_docs").alias("n_docs_a"),
            F.col("b.n_docs").alias("n_docs_b"),
        )
        .filter(F.col("hamming") <= _PHASH_MAX_HAMMING)
        .dropDuplicates(["hash_a", "hash_b"])
    )


# ---------------------------------------------------------------------------
# REAL baseline JPEG codec (grayscale, no subsampling) — pure numpy +
# stdlib struct. Spec-correct JFIF markers, standard Annex K Huffman
# tables, byte stuffing, DC prediction, deterministic quantization.
# The decoder builds its Huffman/quant tables FROM THE STREAM (DQT/
# DHT), so it reads any writer's baseline grayscale JPEG, not just
# ours. JPEG is lossy, so the oracle uses the sketch-family contract
# (q_sketch_hll): exact integers (dims, block count) hash-checked
# directly, plus a within-error-bound flag (|decoded mean − source
# mean| < 3.0; measured worst case on pure-noise images is 1.24, the
# DC quantization step bounds it) that flips and fails the hash gate
# if the codec regresses. Closes the raster injection point left by
# round 2 (only WebP/EXIF-style formats remain out of scope).
# ---------------------------------------------------------------------------



# Standard luminance quantization table (JPEG Annex K.1), zigzag order applied later
QTAB = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99],
], dtype=np.int32)

# Annex K.3: luminance DC — BITS (# codes of len 1..16), HUFFVAL
DC_BITS = [0,1,5,1,1,1,1,1,1,0,0,0,0,0,0,0]
DC_VALS = list(range(12))
# Annex K.3: luminance AC
AC_BITS = [0,2,1,3,3,2,4,3,5,5,4,4,0,0,1,0x7D]
AC_VALS = [
 0x01,0x02,0x03,0x00,0x04,0x11,0x05,0x12,0x21,0x31,0x41,0x06,0x13,0x51,0x61,
 0x07,0x22,0x71,0x14,0x32,0x81,0x91,0xA1,0x08,0x23,0x42,0xB1,0xC1,0x15,0x52,
 0xD1,0xF0,0x24,0x33,0x62,0x72,0x82,0x09,0x0A,0x16,0x17,0x18,0x19,0x1A,0x25,
 0x26,0x27,0x28,0x29,0x2A,0x34,0x35,0x36,0x37,0x38,0x39,0x3A,0x43,0x44,0x45,
 0x46,0x47,0x48,0x49,0x4A,0x53,0x54,0x55,0x56,0x57,0x58,0x59,0x5A,0x63,0x64,
 0x65,0x66,0x67,0x68,0x69,0x6A,0x73,0x74,0x75,0x76,0x77,0x78,0x79,0x7A,0x83,
 0x84,0x85,0x86,0x87,0x88,0x89,0x8A,0x92,0x93,0x94,0x95,0x96,0x97,0x98,0x99,
 0x9A,0xA2,0xA3,0xA4,0xA5,0xA6,0xA7,0xA8,0xA9,0xAA,0xB2,0xB3,0xB4,0xB5,0xB6,
 0xB7,0xB8,0xB9,0xBA,0xC2,0xC3,0xC4,0xC5,0xC6,0xC7,0xC8,0xC9,0xCA,0xD2,0xD3,
 0xD4,0xD5,0xD6,0xD7,0xD8,0xD9,0xDA,0xE1,0xE2,0xE3,0xE4,0xE5,0xE6,0xE7,0xE8,
 0xE9,0xEA,0xF1,0xF2,0xF3,0xF4,0xF5,0xF6,0xF7,0xF8,0xF9,0xFA,
]

ZIGZAG = np.array([
  0, 1, 8,16, 9, 2, 3,10,17,24,32,25,18,11, 4, 5,
 12,19,26,33,40,48,41,34,27,20,13, 6, 7,14,21,28,
 35,42,49,56,57,50,43,36,29,22,15,23,30,37,44,51,
 58,59,52,45,38,31,39,46,53,60,61,54,47,55,62,63], dtype=np.int64)

_N = np.arange(8)
_D = np.sqrt(2/8) * np.cos((2*_N[None,:]+1) * _N[:,None] * np.pi / 16)
_D[0,:] = np.sqrt(1/8)


def _code_lengths(bits):
    """JPEG BITS (number of codes of each length 1..16) -> the code
    length of each HUFFVAL entry, in HUFFVAL order."""
    return [length for length in range(1, 17) for _ in range(bits[length - 1])]


def _huff_codes(bits, vals):
    """val -> (code, length) per JPEG canonical code assignment."""
    lengths = _code_lengths(bits)
    return {
        v: (c, l) for v, c, l in zip(vals, canonical_codes(lengths), lengths)
    }

DC_ENC = _huff_codes(DC_BITS, DC_VALS)
AC_ENC = _huff_codes(AC_BITS, AC_VALS)

# Annex K.2: chrominance quantization table (ITU T.81), and Annex K.3
# chrominance DC/AC Huffman tables — the standard tables every baseline
# color JPEG writer ships.
CQTAB = np.array([
    [17, 18, 24, 47, 99, 99, 99, 99],
    [18, 21, 26, 66, 99, 99, 99, 99],
    [24, 26, 56, 99, 99, 99, 99, 99],
    [47, 66, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
], dtype=np.int32)

CDC_BITS = [0,3,1,1,1,1,1,1,1,1,1,0,0,0,0,0]
CDC_VALS = list(range(12))
CAC_BITS = [0,2,1,2,4,4,3,4,7,5,4,4,0,1,2,0x77]
CAC_VALS = [
 0x00,0x01,0x02,0x03,0x11,0x04,0x05,0x21,0x31,0x06,0x12,0x41,0x51,0x07,0x61,
 0x71,0x13,0x22,0x32,0x81,0x08,0x14,0x42,0x91,0xA1,0xB1,0xC1,0x09,0x23,0x33,
 0x52,0xF0,0x15,0x62,0x72,0xD1,0x0A,0x16,0x24,0x34,0xE1,0x25,0xF1,0x17,0x18,
 0x19,0x1A,0x26,0x27,0x28,0x29,0x2A,0x35,0x36,0x37,0x38,0x39,0x3A,0x43,0x44,
 0x45,0x46,0x47,0x48,0x49,0x4A,0x53,0x54,0x55,0x56,0x57,0x58,0x59,0x5A,0x63,
 0x64,0x65,0x66,0x67,0x68,0x69,0x6A,0x73,0x74,0x75,0x76,0x77,0x78,0x79,0x7A,
 0x82,0x83,0x84,0x85,0x86,0x87,0x88,0x89,0x8A,0x92,0x93,0x94,0x95,0x96,0x97,
 0x98,0x99,0x9A,0xA2,0xA3,0xA4,0xA5,0xA6,0xA7,0xA8,0xA9,0xAA,0xB2,0xB3,0xB4,
 0xB5,0xB6,0xB7,0xB8,0xB9,0xBA,0xC2,0xC3,0xC4,0xC5,0xC6,0xC7,0xC8,0xC9,0xCA,
 0xD2,0xD3,0xD4,0xD5,0xD6,0xD7,0xD8,0xD9,0xDA,0xE2,0xE3,0xE4,0xE5,0xE6,0xE7,
 0xE8,0xE9,0xEA,0xF2,0xF3,0xF4,0xF5,0xF6,0xF7,0xF8,0xF9,0xFA,
]

CDC_ENC = _huff_codes(CDC_BITS, CDC_VALS)
CAC_ENC = _huff_codes(CAC_BITS, CAC_VALS)


class _BitWriter:
    """Scalar JPEG bit writer: with _entropy_encode_block, the per-symbol
    reference the vectorized coder is A/B-tested against. No library
    path writes through it."""

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0
    def put(self, code, length):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)  # byte stuffing
    def flush(self):
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)  # pad with 1s
        return bytes(self.buf)
    def restart_marker(self, m):
        """Byte-align (1-padding) and emit RSTm — markers are written
        raw, never byte-stuffed."""
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)
        self.buf.append(0xFF)
        self.buf.append(0xD0 + (m % 8))


def _category(v):
    return int(v).bit_length() if v > 0 else int(-v).bit_length() if v < 0 else 0


def _amplitude(v, size):
    return v if v >= 0 else v + (1 << size) - 1


def _enc_arrays(enc, size):
    """Huffman dict {val: (code, len)} -> (code, len) int64 lookup
    arrays for the vectorized entropy coder."""
    code = np.zeros(size, dtype=np.int64)
    ln = np.zeros(size, dtype=np.int64)
    for k, (c, l) in enc.items():
        code[k] = c
        ln[k] = l
    return code, ln


def _bit_length_i64(x):
    """Vectorized int bit_length for non-negative int64 < 2^53 (JPEG
    coefficients are tiny): frexp's exponent IS the bit length and is
    exact for integers in float64 range."""
    _, e = np.frexp(x.astype(np.float64))
    return np.where(x == 0, 0, e).astype(np.int64)


def _component_symbols(zz, tabs, slot, reset_mask=None):
    """Vectorized JPEG entropy SYMBOL stream for one component.

    zz: (nb, 64) int64 zigzag blocks in the component's emission
    order; tabs: (dc_code, dc_len, ac_code, ac_len) lookup arrays;
    slot: (nb,) global interleave slot per block (MCU-ordered so a
    later lexsort can interleave components); reset_mask: (nb,) bool,
    True where the DC predictor restarts (the first block of a frame
    or restart segment; None = only block 0). Returns five int64
    arrays (codes, lens, key_slot, key_pos, key_sub): one row per
    emitted bit-string — DC huffman code + optional DC amplitude, per
    nonzero AC its ZRL runs + run/size code + amplitude, and the EOB
    — keyed so that lexsort((sub, pos, slot)) reproduces exactly the
    scalar _entropy_encode_block emission order (DC pos=-1; ZRLs sort
    before their AC code via sub 0..3 < 50 < 51; EOB pos=63)."""
    dc_code, dc_len, ac_code, ac_len = tabs
    nb = zz.shape[0]
    i64 = np.int64
    dc = zz[:, 0]
    if reset_mask is None:
        diff = np.diff(dc, prepend=i64(0))
    else:
        # the DC predictor restarts at the first block of every frame
        # or restart segment
        prev = np.empty(nb, i64)
        prev[0] = 0
        prev[1:] = dc[:-1]
        prev[reset_mask] = 0
        diff = dc - prev
    s = _bit_length_i64(np.abs(diff))
    damp = np.where(diff >= 0, diff, diff + (i64(1) << s) - 1)
    havamp = s > 0
    na = int(havamp.sum())
    parts = [
        (dc_code[s], dc_len[s], slot, np.full(nb, -1, i64),
         np.zeros(nb, i64)),
        (damp[havamp], s[havamp], slot[havamp], np.full(na, -1, i64),
         np.ones(na, i64)),
    ]
    ac = zz[:, 1:]
    nzb, nzp = np.nonzero(ac)
    if len(nzb):
        vals = ac[nzb, nzp]
        first = np.empty(len(nzb), dtype=bool)
        first[0] = True
        first[1:] = np.diff(nzb) != 0
        prevp = np.where(first, i64(-1), np.concatenate(([i64(0)], nzp[:-1])))
        run = nzp - prevp - 1
        n_zrl = run // 16
        rem = run - 16 * n_zrl
        c = _bit_length_i64(np.abs(vals))
        aamp = np.where(vals >= 0, vals, vals + (i64(1) << c) - 1)
        sym = (rem << 4) | c
        tot_zrl = int(n_zrl.sum())
        if tot_zrl:
            zi = np.repeat(np.arange(len(nzb)), n_zrl)
            sub = np.arange(tot_zrl, dtype=i64) - np.repeat(
                np.cumsum(n_zrl) - n_zrl, n_zrl
            )
            parts.append(
                (
                    np.full(tot_zrl, ac_code[0xF0], i64),
                    np.full(tot_zrl, ac_len[0xF0], i64),
                    slot[nzb][zi],
                    nzp[zi].astype(i64),
                    sub,
                )
            )
        nnz = len(nzb)
        parts.append(
            (ac_code[sym], ac_len[sym], slot[nzb], nzp.astype(i64),
             np.full(nnz, 50, i64))
        )
        parts.append(
            (aamp, c, slot[nzb], nzp.astype(i64), np.full(nnz, 51, i64))
        )
    last = np.full(nb, -1, i64)
    if len(nzb):
        # row-major nonzeros: the final assignment per block is its
        # maximal AC position
        last[nzb] = nzp
    eob = last < 62
    ne = int(eob.sum())
    parts.append(
        (
            np.full(ne, ac_code[0x00], i64),
            np.full(ne, ac_len[0x00], i64),
            slot[eob],
            np.full(ne, 63, i64),
            np.zeros(ne, i64),
        )
    )
    return tuple(
        np.concatenate([p[k] for p in parts]) for k in range(5)
    )


def _pack_entropy_batch(streams, n_slots, n_frames):
    """Pack JPEG entropy symbols into n_frames byte-aligned segments.
    A segment is a whole frame of a same-geometry stack, or one
    restart interval of it (global slot = segment * n_slots +
    in-segment slot). Each segment gets one more symbol: the 1-bits a
    JPEG flush pads it to a whole byte with, keyed after its last
    symbol. One lexsort then orders everything into a single
    contiguous bit stream, packed and byte-stuffed once and split at
    stuffing-adjusted segment offsets. Returns n_frames entropy byte
    strings — one numpy pass for every frame of a video payload
    instead of a Python call per symbol."""
    i64 = np.int64
    lens = np.concatenate([s[1] for s in streams])
    kslot = np.concatenate([s[2] for s in streams])
    seg_bits = np.bincount(
        kslot // n_slots, weights=lens, minlength=n_frames
    ).astype(i64)
    pad = -seg_bits % 8
    seg = np.arange(n_frames, dtype=i64)
    codes = np.concatenate([s[0] for s in streams] + [(i64(1) << pad) - 1])
    lens = np.concatenate([lens, pad])
    kslot = np.concatenate([kslot, seg * n_slots + n_slots - 1])
    kpos = np.concatenate([s[3] for s in streams] + [np.full(n_frames, 64, i64)])
    ksub = np.concatenate([s[4] for s in streams] + [np.zeros(n_frames, i64)])
    order = np.lexsort((ksub, kpos, kslot))
    codes, lens = codes[order], lens[order]
    starts = np.cumsum(lens) - lens
    sym_of_bit = np.repeat(np.arange(len(lens)), lens)
    bitpos = np.arange(int(lens.sum()), dtype=i64) - starts[sym_of_bit]
    by = np.packbits(
        ((codes[sym_of_bit] >> (lens[sym_of_bit] - 1 - bitpos)) & 1).astype(
            np.uint8
        )
    )
    byte_off = np.concatenate(([i64(0)], np.cumsum((seg_bits + pad) // 8)))
    ff = np.nonzero(by == 0xFF)[0]
    if len(ff):
        by = np.insert(by, ff + 1, np.uint8(0))
        byte_off = byte_off + np.searchsorted(ff, byte_off, side="left")
    raw = by.tobytes()
    return [raw[byte_off[f]: byte_off[f + 1]] for f in range(n_frames)]


# DQT payloads: the quant tables in zigzag order
_QZ_LUMA = QTAB.ravel()[ZIGZAG].astype(np.uint8).tobytes()
_QZ_CHROMA = CQTAB.ravel()[ZIGZAG].astype(np.uint8).tobytes()

# Huffman lookup arrays for the vectorized entropy coder
# (value -> code/len), one pair per table: luma DC(12)/AC(256) and
# chroma DC/AC.
_LUMA_TABS = (*_enc_arrays(DC_ENC, 12), *_enc_arrays(AC_ENC, 256))
_CHROMA_TABS = (*_enc_arrays(CDC_ENC, 12), *_enc_arrays(CAC_ENC, 256))


def _quantized_zigzag_blocks(plane, qtab):
    """FDCT + quantize + zigzag EVERY 8x8 block of a level-shifted
    plane in one vectorized einsum (plane dims must be multiples of
    8). Returns int64 array of shape (nby, nbx, 64) — the per-block
    numpy matmuls were the measured encoder hotspot; batching them
    leaves only entropy coding in the Python loop."""
    h, w = plane.shape[-2:]
    lead = plane.shape[:-2]
    blocks = np.moveaxis(
        plane.reshape(*lead, h // 8, 8, w // 8, 8), -3, -2
    )
    # D @ B @ D.T via two broadcast matmuls — identical contraction to
    # einsum("ij,xyjk,lk->xyil") but without einsum's per-call path
    # optimization, which cost more than the arithmetic on these tiny
    # 8x8 operands (36% of encode time in the frame-sample profile).
    # Leading dims broadcast, so a (n_frames, H, W) stack batches.
    coefs = np.matmul(np.matmul(_D, blocks), _D.T)
    q = np.floor(coefs / qtab + 0.5).astype(np.int64)
    return q.reshape(*lead, h // 8, w // 8, 64)[..., ZIGZAG]


def _entropy_encode_block(bw, zz, prev_dc, dc_enc, ac_enc):
    """Huffman-encode one quantized zigzag vector (DC diff + AC
    run-length) through a _BitWriter; returns the block's DC. The
    scalar reference for tests only."""
    dc, diff = int(zz[0]), int(zz[0]) - prev_dc
    s = _category(diff)
    c, l = dc_enc[s]
    bw.put(c, l)
    if s:
        bw.put(_amplitude(diff, s), s)
    run = 0
    ac = zz[1:]
    nz = np.nonzero(ac)[0]
    last = nz[-1] if len(nz) else -1
    for i in range(last + 1):
        v = int(ac[i])
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, l = ac_enc[0xF0]; bw.put(c, l); run -= 16
        s = _category(v)
        c, l = ac_enc[(run << 4) | s]
        bw.put(c, l)
        bw.put(_amplitude(v, s), s)
        run = 0
    if last < 62:
        c, l = ac_enc[0x00]; bw.put(c, l)  # EOB
    return dc


def encode_jpeg_gray(w, h, pix):
    """pix: bytes of length w*h (row-major). Returns baseline JFIF bytes."""
    img = np.frombuffer(pix, dtype=np.uint8).reshape(h, w).astype(np.float64)
    H8, W8 = -(-h // 8) * 8, -(-w // 8) * 8
    padded = np.pad(img, ((0, H8-h), (0, W8-w)), mode="edge") - 128.0
    zz = _quantized_zigzag_blocks(padded, QTAB)
    flat = zz.reshape(-1, 64)
    nb = flat.shape[0]
    data = _pack_entropy_batch(
        [_component_symbols(flat, _LUMA_TABS, np.arange(nb, dtype=np.int64))],
        nb,
        1,
    )[0]

    def seg(marker, payload):
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = b"\xFF\xD8"  # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB, b"\x00" + _QZ_LUMA)
    out += seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 1) + b"\x01\x11\x00")
    out += seg(0xFFC4, b"\x00" + bytes(DC_BITS) + bytes(DC_VALS))
    out += seg(0xFFC4, b"\x10" + bytes(AC_BITS) + bytes(AC_VALS))
    out += seg(0xFFDA, b"\x01\x01\x00\x00\x3F\x00")
    out += data + b"\xFF\xD9"
    return out


def _box2x2(plane):
    """2x2 box average (the 4:2:0 chroma downsample); plane dims even.
    Operates on the trailing two axes, so frame stacks batch."""
    return (plane[..., 0::2, 0::2] + plane[..., 0::2, 1::2]
            + plane[..., 1::2, 0::2] + plane[..., 1::2, 1::2]) / 4.0


def encode_jpeg_color(w, h, rgb, restart_interval=0):
    """rgb: interleaved bytes of length w*h*3. Returns a baseline JFIF
    stream with the training-data-standard layout: YCbCr, 4:2:0 chroma
    subsampling (Y sampling 2x2, Cb/Cr 1x1), Annex K.1/K.2 quant and
    K.3 luma+chroma Huffman tables, 16x16-luma MCU interleaved scan
    with per-component DC prediction. restart_interval > 0 emits a DRI
    segment and an RSTn marker + DC-predictor reset every that many
    MCUs (what libjpeg/camera writers do for error resilience)."""
    frame = np.frombuffer(rgb, dtype=np.uint8).reshape(1, h, w, 3)
    return _encode_color_stack(w, h, frame, restart_interval)[0]


def _jfif_color_header(w, h, restart_interval=0):
    """Everything before the entropy data of the baseline color
    stream (SOI..SOS); the stack encoder reuses one header across
    every frame."""

    def seg(marker, payload):
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = b"\xFF\xD8"
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB, b"\x00" + _QZ_LUMA + b"\x01" + _QZ_CHROMA)
    out += seg(
        0xFFC0,
        struct.pack(">BHHB", 8, h, w, 3)
        + b"\x01\x22\x00" + b"\x02\x11\x01" + b"\x03\x11\x01",
    )
    out += seg(0xFFC4, b"\x00" + bytes(DC_BITS) + bytes(DC_VALS))
    out += seg(0xFFC4, b"\x10" + bytes(AC_BITS) + bytes(AC_VALS))
    out += seg(0xFFC4, b"\x01" + bytes(CDC_BITS) + bytes(CDC_VALS))
    out += seg(0xFFC4, b"\x11" + bytes(CAC_BITS) + bytes(CAC_VALS))
    if restart_interval:
        out += seg(0xFFDD, struct.pack(">H", restart_interval))
    out += seg(0xFFDA, b"\x03\x01\x00\x02\x11\x03\x11\x00\x3F\x00")
    return out


def encode_jpeg_color_batch(w, h, rgb_stack):
    """Encode a uint8 (n, h, w, 3) frame STACK; returns a list of n
    baseline JFIF byte strings, each byte-for-byte identical to
    encode_jpeg_color(w, h, frame.tobytes()). One numpy pass per
    STACK amortizes numpy's fixed per-call overhead, which dominates
    on tiny video frames (the q_multimodal_frame_sample_avi shape:
    dozens of 12-block frames per document)."""
    if rgb_stack.shape[0] == 0:
        return []
    return _encode_color_stack(w, h, rgb_stack)


def _encode_color_stack(w, h, rgb_stack, restart_interval=0):
    """The one baseline color encoder: color transform, padding, 4:2:0
    subsampling, DCT/quantize, entropy symbols and bit packing all
    batch across the (n, h, w, 3) stack. Every restart segment (the
    whole frame when restart_interval is 0) packs as its own
    byte-aligned unit with its DC predictors reset; segments of a
    frame are joined with RST0..RST7 markers, written raw (never
    byte-stuffed)."""
    n = rgb_stack.shape[0]
    img = rgb_stack.astype(np.float64)
    r, g, b = img[..., 0], img[..., 1], img[..., 2]
    # JFIF RGB -> YCbCr (BT.601 full-range)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    H16, W16 = -(-h // 16) * 16, -(-w // 16) * 16
    pad = ((0, 0), (0, H16 - h), (0, W16 - w))
    yp = np.pad(y, pad, mode="edge") - 128.0
    cbp = _box2x2(np.pad(cb, pad, mode="edge")) - 128.0
    crp = _box2x2(np.pad(cr, pad, mode="edge")) - 128.0
    yzz = _quantized_zigzag_blocks(yp, QTAB)
    cbzz = _quantized_zigzag_blocks(cbp, CQTAB)
    crzz = _quantized_zigzag_blocks(crp, CQTAB)
    mbx = W16 // 16
    nbx = W16 // 8
    n_mcu = (H16 // 16) * mbx
    ri = restart_interval or n_mcu
    n_seg = -(-n_mcu // ri)
    n_slots = 6 * ri
    m_idx = np.arange(n_mcu, dtype=np.int64)
    my_, mx_ = m_idx // mbx, m_idx % mbx
    # Y blocks in MCU emission order: the four 8x8 blocks of each
    # 16x16 MCU; Cb/Cr are one block per MCU, natural row-major
    yorder = np.stack(
        [
            (2 * my_ + dy) * nbx + (2 * mx_ + dx)
            for dy, dx in ((0, 0), (0, 1), (1, 0), (1, 1))
        ],
        axis=1,
    ).reshape(-1)
    # slot of each MCU's first block (Y0..Y3, Cb, Cr take slots +0..+5),
    # segment-major across the stack so one lexsort interleaves the
    # components of every segment
    seg = np.arange(n, dtype=np.int64)[:, None] * n_seg + m_idx // ri
    mslot = (seg * n_slots + (m_idx % ri) * 6).reshape(-1)
    mreset = np.tile(m_idx % ri == 0, n)
    sub = np.tile(np.arange(4, dtype=np.int64), n * n_mcu)
    segs = _pack_entropy_batch(
        [
            _component_symbols(
                yzz.reshape(n, -1, 64)[:, yorder].reshape(-1, 64),
                _LUMA_TABS,
                np.repeat(mslot, 4) + sub,
                np.repeat(mreset, 4) & (sub == 0),
            ),
            _component_symbols(
                cbzz.reshape(-1, 64), _CHROMA_TABS, mslot + 4, mreset
            ),
            _component_symbols(
                crzz.reshape(-1, 64), _CHROMA_TABS, mslot + 5, mreset
            ),
        ],
        n_slots,
        n * n_seg,
    )
    header = _jfif_color_header(w, h, restart_interval)
    rst = [bytes((0xFF, 0xD0 + j % 8)) for j in range(n_seg - 1)]
    out = []
    for f in range(n):
        parts = segs[f * n_seg : (f + 1) * n_seg]
        data = b"".join(p + m for p, m in zip(parts, rst)) + parts[-1]
        out.append(header + data + b"\xFF\xD9")
    return out


class _BitReader:
    """Entropy-stream bit reader with a multi-byte accumulator
    (optimization r15). The old form refilled one byte at a time and
    walked Huffman codes BIT BY BIT with a dict probe per length —
    ~8 Python calls per symbol; this one peeks a 16-bit window and
    resolves any code in ONE flat-table lookup (_huff_decode_table's
    window table). Hitting a marker or the end of data pads the window
    with virtual 1-bits (JPEG's flush padding), and padding is only an
    error if a symbol actually CONSUMES it — identical outcomes on
    well-formed streams, ValueError('truncated entropy data') on
    truncated ones."""

    __slots__ = ("data", "pos", "acc", "n", "pad")

    def __init__(self, data):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0
        self.pad = 0

    def _fill(self, k):
        while self.n < k:
            if self.pos < len(self.data):
                b = self.data[self.pos]
                if b == 0xFF:
                    if (
                        self.pos + 1 < len(self.data)
                        and self.data[self.pos + 1] == 0x00
                    ):
                        self.pos += 2  # stuffed data byte
                    else:
                        # marker (e.g. RSTn/EOI) or truncation: pad
                        self.acc = (self.acc << 8) | 0xFF
                        self.n += 8
                        self.pad += 8
                        continue
                else:
                    self.pos += 1
                self.acc = (self.acc << 8) | b
                self.n += 8
            else:
                self.acc = (self.acc << 8) | 0xFF
                self.n += 8
                self.pad += 8

    def bits(self, k):
        """The next k bits; consuming virtual padding is truncation.
        The accumulator holds exactly n bits, so no mask is needed."""
        if k == 0:
            return 0
        if self.n < k:
            self._fill(k)
        n = self.n - k
        if n < self.pad:
            raise ValueError("truncated entropy data")
        v = self.acc >> n
        self.n = n
        self.acc &= (1 << n) - 1
        return v

    def read_huff(self, window_table):
        """Decode one Huffman symbol via the 16-bit window table."""
        if self.n < 16:
            self._fill(16)
        e = window_table[(self.acc >> (self.n - 16)) & 0xFFFF]
        ln = e & 31
        if not ln:
            raise ValueError("invalid huffman code")
        n = self.n - ln
        if n < self.pad:
            raise ValueError("truncated entropy data")
        self.n = n
        self.acc &= (1 << n) - 1
        return e >> 5

    def consume_restart(self):
        """At a restart boundary: discard buffered pad bits (the
        accumulator never holds bytes past a marker, because _fill
        stops there), then consume the RSTn marker (FF D0-D7)."""
        self.acc = 0
        self.n = 0
        self.pad = 0
        if (
            self.pos + 1 >= len(self.data)
            or self.data[self.pos] != 0xFF
            or not (0xD0 <= self.data[self.pos + 1] <= 0xD7)
        ):
            raise ValueError("expected restart marker")
        self.pos += 2


_HUFF_TABLE_CACHE: dict = {}


def _huff_decode_table(bits, vals):
    """16-bit-window Huffman decode table: entry w = (val << 5) | len
    for the unique code prefixing window w, 0 for invalid prefixes —
    one list lookup decodes any symbol. Memoized on the table
    definition — decoders rebuild the same 4 standard tables for every
    payload in a batch."""
    key = (tuple(bits), tuple(vals))
    cached = _HUFF_TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    out = [0] * 65536
    lengths = _code_lengths(bits)
    for val, code, length in zip(vals, canonical_codes(lengths), lengths):
        lo = code << (16 - length)
        hi = (code + 1) << (16 - length)
        out[lo:hi] = [(val << 5) | length] * (hi - lo)
    if len(_HUFF_TABLE_CACHE) < 64:  # bound worker memory
        _HUFF_TABLE_CACHE[key] = out
    return out


def _extend(v, size):
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _parse_jpeg(payload, n_components=(1, 3)):
    """Walk a baseline JPEG's markers up to its scan, reading the
    quant/Huffman tables, frame components, restart interval and scan
    table bindings FROM THE STREAM, so any writer's file parses; a
    frame whose component count is not in `n_components` is refused
    at its SOF. Returns (width, height, components, restart_interval,
    entropy data) with components = [(id, h_samp, v_samp, qtab,
    dc_table, ac_table)] in SOF order."""
    if payload[:2] != b"\xFF\xD8":
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    qtabs, htabs = {}, {}
    w = h = None
    comps = []  # (comp_id, hi, vi, tq) in SOF order
    scan_tabs = {}  # comp_id -> (dc_id, ac_id)
    data = None
    restart_interval = 0
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = payload[pos+1]; pos += 2
        if marker == 0xD9:
            break
        ln = struct.unpack(">H", payload[pos:pos+2])[0]
        body = payload[pos+2:pos+ln]
        if marker == 0xDD:
            restart_interval = struct.unpack(">H", body[:2])[0]
        elif marker == 0xDB:
            while body:
                pq_tq, body = body[0], body[1:]
                if pq_tq >> 4:
                    raise NotImplementedError("16-bit qtable")
                if len(body) < 64:
                    raise ValueError("truncated quantization table")
                qtabs[pq_tq & 15] = np.array(list(body[:64]), dtype=np.int32)
                body = body[64:]
        elif marker == 0xC0:
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise NotImplementedError("8-bit baseline only")
            if nc not in n_components:
                raise NotImplementedError(
                    f"{nc}-component frame: baseline "
                    f"{' or '.join(map(str, n_components))}-component only"
                )
            for ci in range(nc):
                cid, hv, tq = body[6+3*ci], body[7+3*ci], body[8+3*ci]
                comps.append((cid, hv >> 4, hv & 15, tq))
        elif marker in (0xC1, 0xC2, 0xC3):
            raise NotImplementedError("baseline sequential only")
        elif marker == 0xC4:
            while body:
                tc_th, body = body[0], body[1:]
                if len(body) < 16:
                    raise ValueError("truncated huffman table header")
                bits = list(body[:16]); body = body[16:]
                nv = sum(bits)
                if len(body) < nv:
                    raise ValueError("truncated huffman table values")
                vals = list(body[:nv]); body = body[nv:]
                htabs[(tc_th >> 4, tc_th & 15)] = _huff_decode_table(bits, vals)
        elif marker == 0xDA:
            ns = body[0]
            for si in range(ns):
                cid, tt = body[1+2*si], body[2+2*si]
                scan_tabs[cid] = (tt >> 4, tt & 15)
            data = payload[pos+ln:]
            # entropy data runs to EOI
            end = data.rfind(b"\xFF\xD9")
            data = data[:end] if end >= 0 else data
            break
        pos += ln
    if data is None or w is None or not comps:
        raise ValueError("missing SOS/SOF")
    units = []
    for cid, hi, vi, tq in comps:
        if cid not in scan_tabs:
            raise ValueError(f"scan does not cover component {cid}")
        td, ta = scan_tabs[cid]
        units.append((cid, hi, vi, qtabs[tq], htabs[(0, td)], htabs[(1, ta)]))
    return w, h, units, restart_interval, data


def _decode_scan(w, h, comps, restart_interval, data):
    """Entropy-decode the scan into one level-shifted float plane per
    component (MCU-padded). RSTn markers byte-align the reader and
    reset the DC predictors. A single-component scan is
    NON-interleaved (ITU T.81 A.2.2): one block per MCU, whatever the
    SOF sampling factors."""
    if len(comps) == 1:
        cid, _, _, q, dct, act = comps[0]
        comps = [(cid, 1, 1, q, dct, act)]
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    zzs = [[] for _ in comps]
    units = [(zz, hi * vi, dct, act) for zz, (_, hi, vi, _, dct, act) in zip(zzs, comps)]
    prev = [0] * len(comps)
    br = _BitReader(data)
    for m in range(mcux * mcuy):
        if restart_interval and m and m % restart_interval == 0:
            br.consume_restart()  # byte-align + RSTn
            prev = [0] * len(comps)  # DC predictors reset
        for ci, (out, n_blocks, dct, act) in enumerate(units):
            dc = prev[ci]
            for _ in range(n_blocks):
                zz, dc = _decode_entropy_block(br, dct, act, dc)
                out.append(zz)
            prev[ci] = dc
    planes = []
    for (_, hi, vi, q, _, _), zz in zip(comps, zzs):
        # blocks arrive MCU by MCU, each MCU's vi x hi blocks row-major
        blocks = _batch_idct(np.stack(zz), q).reshape(mcuy, mcux, vi, hi, 8, 8)
        planes.append(
            blocks.transpose(0, 2, 4, 1, 3, 5).reshape(mcuy * vi * 8, mcux * hi * 8)
        )
    return planes


def decode_jpeg_gray(payload):
    """Parse any writer's baseline grayscale JPEG (tables read from the
    stream, not assumed) — the one-component case of decode_jpeg_color.
    Returns dict(width, height, pixels (h, w) uint8)."""
    w, h, comps, restart_interval, data = _parse_jpeg(payload, (1,))
    if restart_interval:
        raise NotImplementedError(
            "restart intervals: use decode_jpeg_color (reads "
            "1-component streams too)"
        )
    (plane,) = _decode_scan(w, h, comps, restart_interval, data)
    pix = np.clip(np.floor(plane + 128.0 + 0.5), 0, 255).astype(np.uint8)[:h, :w]
    return {"width": w, "height": h, "pixels": pix}


def _decode_entropy_block(br, dct, act, prev_dc):
    """Entropy-decode one block's quantized zigzag vector (DC
    prediction applied); returns (zz int64[64], new prev_dc). The
    dequantize + IDCT happens batched per component afterwards
    (_batch_idct) — entropy decoding is inherently sequential, the
    math is not."""
    zz = np.zeros(64, dtype=np.int64)
    s = br.read_huff(dct)
    diff = _extend(br.bits(s), s) if s else 0
    prev_dc += diff
    zz[0] = prev_dc
    k = 1
    while k < 64:
        rs = br.read_huff(act)
        if rs == 0x00:
            break
        if rs == 0xF0:
            k += 16
            continue
        k += rs >> 4
        size = rs & 15
        if k > 63:
            raise ValueError("AC index overflow")
        zz[k] = _extend(br.bits(size), size)
        k += 1
    return zz, prev_dc


def _batch_idct(zzs, q):
    """Dequantize + IDCT a stack of zigzag vectors in one batched
    matmul. zzs: int64 (n, 64) in zigzag order; q: the stream's quant
    table (zigzag order). Returns float64 (n, 8, 8) level-shifted
    blocks. D.T @ C @ D via two broadcast matmuls — identical
    contraction to einsum("ji,njk,kl->nil") but without einsum's
    per-call path optimization, which dominated on 8x8 operands (same
    fix as _quantized_zigzag_blocks)."""
    coef = np.zeros((len(zzs), 64), dtype=np.int64)
    coef[:, ZIGZAG] = zzs * q.astype(np.int64)[None, :]
    return np.matmul(
        np.matmul(_D.T, coef.reshape(-1, 8, 8).astype(np.float64)), _D
    )


def decode_jpeg_color(payload):
    """Parse any writer's baseline JFIF color JPEG — quant/Huffman
    tables, component sampling factors, and scan table bindings all
    read FROM THE STREAM, so 4:2:0 (the overwhelmingly common
    training-data layout), 4:2:2, and 4:4:4 all decode; DRI restart
    intervals are honored (RSTn markers byte-align the reader and
    reset the DC predictors — libjpeg/camera writers emit these).
    MCU-interleaved entropy decode into per-component planes, chroma
    upsampled by sample replication, BT.601 YCbCr -> RGB. Returns dict(width,
    height, pixels HxWx3 uint8). NotImplementedError scope guards
    mirror decode_jpeg_gray (baseline sequential, 8-bit tables)."""
    w, h, comps, restart_interval, data = _parse_jpeg(payload)
    planes = _decode_scan(w, h, comps, restart_interval, data)
    if len(comps) == 1:
        pix = np.clip(np.floor(planes[0] + 128.0 + 0.5), 0, 255)
        return {
            "width": w, "height": h,
            "pixels": pix.astype(np.uint8)[:h, :w][..., None].repeat(3, axis=2),
        }
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    full = {}
    for (cid, hi, vi, *_), p in zip(comps, planes):
        p = p.repeat(vmax // vi, axis=0).repeat(hmax // hi, axis=1)
        full[cid] = p[:h, :w] + 128.0
    # Component identity is given by the SOF component IDs (JFIF
    # convention: 1=Y, 2=Cb, 3=Cr), NOT by listing position — a legal
    # stream may list them in any order. Fall back to SOF order only
    # when the IDs deviate from the JFIF triple.
    ids = [c[0] for c in comps]
    order = (1, 2, 3) if sorted(ids) == [1, 2, 3] else ids
    y, cb, cr = (full[cid] for cid in order)
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=2)
    return {
        "width": w,
        "height": h,
        "pixels": np.clip(np.floor(rgb + 0.5), 0, 255).astype(np.uint8),
    }


_JPEG_MEAN_BOUND = 3.0


@register(
    "q_multimodal_decode_jpeg",
    oracle=f"""
    WITH dims AS (
        SELECT doc_id, text,
               CAST(doc_id % 13 + 4 AS INT) AS w,
               CAST(LEAST(octet_length(encode(text)) // (doc_id % 13 + 4),
                          64) AS INT) AS h
        FROM documents
        WHERE octet_length(encode(text)) = length(text)
          AND octet_length(encode(text)) >= doc_id % 13 + 4
    )
    SELECT doc_id, w AS width, h AS height,
           CAST((w + 7) // 8 AS BIGINT) * ((h + 7) // 8) AS n_blocks,
           TRUE AS mean_ok
    FROM dims
    """,
)
def q_multimodal_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossy-codec path: documents encoded as baseline grayscale
    JPEGs (spec-correct JFIF + Annex K Huffman) and decoded by the
    full entropy/DCT decoder, Arrow-batched in mapInPandas. JPEG is
    lossy, so the oracle uses the sketch-family contract: width/
    height/block-count are exact integers checked directly, and
    mean_ok = |decoded mean − source mean| < {_JPEG_MEAN_BOUND} is the
    within-error-bound flag (measured worst case 1.24 on pure-noise
    images; a codec regression flips it and fails the hash gate).
    Decode parallelism, schema, and batching are identical to the PNG
    path — this is the plumbing a Pillow-backed decoder drops into."""
    src = synthetic_image_payloads(spark, sf_dir)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ws, hs, nb, ok = [], [], [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                m = decode_synthetic_image(p)  # MIMG → source pixels
                w, h = m["width"], m["height"]
                pix = bytes(p[8 : 8 + w * h])
                jp = encode_jpeg_gray(w, h, pix)
                d = decode_jpeg_gray(jp)
                if (d["width"], d["height"]) != (w, h):
                    raise ValueError("dim mismatch after JPEG round trip")
                src_mean = sum(pix) / len(pix)
                dec_mean = float(d["pixels"].astype(np.float64).mean())
                ids.append(doc_id)
                ws.append(w)
                hs.append(h)
                nb.append(((w + 7) // 8) * ((h + 7) // 8))
                ok.append(abs(dec_mean - src_mean) < _JPEG_MEAN_BOUND)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "n_blocks": pd.Series(nb, dtype="int64"),
                    "mean_ok": pd.Series(ok, dtype="bool"),
                }
            )

    return src.mapInPandas(
        op,
        schema="doc_id long, width int, height int, n_blocks long, "
        "mean_ok boolean",
    )


_JPEG_COLOR_MEAN_BOUND = 16.0


@register(
    "q_multimodal_decode_jpeg_color",
    oracle=f"""
    WITH dims AS (
        SELECT doc_id,
               CAST(doc_id % 13 + 4 AS INT) AS w,
               CAST(LEAST(octet_length(encode(text)) // (doc_id % 13 + 4),
                          64) AS INT) AS h
        FROM documents
        WHERE octet_length(encode(text)) = length(text)
          AND octet_length(encode(text)) >= doc_id % 13 + 4
    )
    SELECT doc_id, w AS width, h AS height,
           CAST((w + 15) // 16 AS BIGINT) * ((h + 15) // 16) AS n_mcus,
           TRUE AS mean_ok_r, TRUE AS mean_ok_g, TRUE AS mean_ok_b
    FROM dims
    """,
)
def q_multimodal_decode_jpeg_color(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLOR lossy-codec path (VERDICT r3 #5): 3-channel images encoded
    as baseline YCbCr 4:2:0 JPEGs — the overwhelmingly common
    training-data layout — and decoded by the full MCU-interleaved
    entropy/DCT/upsample/color-convert decoder, Arrow-batched in
    mapInPandas. RGB planes are synthesized deterministically from the
    MIMG gray plane (R=p, G=2p+7, B=5p+11 mod 256) so both engines
    agree on the source without shipping pixels through SQL. Same
    sketch-family oracle contract as the grayscale query: width/height/
    MCU-count are exact integers, and per-channel mean_ok flags assert
    |decoded channel mean − source channel mean| <
    {_JPEG_COLOR_MEAN_BOUND} (measured worst case 6.83 over the full
    sf0.01 fixture population; the error is dominated by the chroma DC
    quant step of 17 crossed through the 1.402/1.772 color-matrix
    gains on single-MCU images; a codec regression flips a flag and
    fails the hash gate)."""
    src = synthetic_image_payloads(spark, sf_dir)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ws, hs, nm = [], [], [], []
            oks = [[], [], []]
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                m = decode_synthetic_image(p)  # MIMG → source pixels
                w, h = m["width"], m["height"]
                gray = np.frombuffer(
                    bytes(p[8 : 8 + w * h]), dtype=np.uint8
                ).astype(np.int64)
                rgb = np.stack(
                    [gray, (2 * gray + 7) % 256, (5 * gray + 11) % 256], axis=1
                ).astype(np.uint8).reshape(h, w, 3)
                jp = encode_jpeg_color(w, h, rgb.tobytes())
                d = decode_jpeg_color(jp)
                if (d["width"], d["height"]) != (w, h):
                    raise ValueError("dim mismatch after color JPEG round trip")
                dec = d["pixels"].astype(np.float64)
                srcf = rgb.astype(np.float64)
                ids.append(doc_id)
                ws.append(w)
                hs.append(h)
                nm.append(((w + 15) // 16) * ((h + 15) // 16))
                for c in range(3):
                    oks[c].append(
                        abs(dec[..., c].mean() - srcf[..., c].mean())
                        < _JPEG_COLOR_MEAN_BOUND
                    )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "n_mcus": pd.Series(nm, dtype="int64"),
                    "mean_ok_r": pd.Series(oks[0], dtype="bool"),
                    "mean_ok_g": pd.Series(oks[1], dtype="bool"),
                    "mean_ok_b": pd.Series(oks[2], dtype="bool"),
                }
            )

    return src.mapInPandas(
        op,
        schema="doc_id long, width int, height int, n_mcus long, "
        "mean_ok_r boolean, mean_ok_g boolean, mean_ok_b boolean",
    )


@register(
    "q_multimodal_audio_features",
    oracle="""
    WITH src AS (
        SELECT doc_id, text,
               CAST(LEAST(octet_length(encode(text)), 512) AS INT) AS n
        FROM documents
        WHERE octet_length(encode(text)) = length(text)
          AND octet_length(encode(text)) >= 128
    ),
    samp AS (
        SELECT s.doc_id, s.n, t.i,
               ascii(SUBSTR(s.text, CAST(t.i AS INT), 1)) - 64 AS a,
               CAST((t.i - 1) // 64 AS INT) AS frame
        FROM src s, UNNEST(generate_series(1, s.n)) AS t(i)
    ),
    frames AS (
        SELECT doc_id, frame,
               CAST(SUM(CAST(a AS BIGINT) * a) AS BIGINT) AS energy
        FROM samp GROUP BY doc_id, frame
    ),
    zc AS (
        SELECT s1.doc_id,
               CAST(SUM(CASE WHEN s1.a * s2.a < 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS zcr
        FROM samp s1 JOIN samp s2
          ON s2.doc_id = s1.doc_id AND s2.i = s1.i + 1
        GROUP BY s1.doc_id
    )
    SELECT f.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(MAX(f.energy) AS BIGINT) AS max_frame_energy,
           CAST(SUM(f.energy) AS BIGINT) AS total_energy,
           z.zcr
    FROM frames f JOIN zc z ON z.doc_id = f.doc_id
    GROUP BY f.doc_id, z.zcr
    """,
)
def q_multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio FEATURE EXTRACTION through the real container — the
    stage after decode in an audio pipeline: each document's leading
    bytes (≤512, centered at -64 so sign changes exist) become PCM16
    samples, round-trip through a spec-correct WAV file, and the
    DECODED samples yield frame-level features: 64-sample frame
    energies (max and total — exact integer sums of squares) and the
    zero-crossing count over consecutive samples (strict sign
    product < 0). All features are exact integers so the SQL oracle
    recomputes them from the source characters; a hash match proves
    container transport AND the vectorized numpy feature math. Frame
    count uses ceil semantics (the last ragged frame counts)."""
    d = load_table(spark, sf_dir, "documents").filter(
        (F.length(F.encode("text", "UTF-8")) == F.length("text"))
        & (F.length(F.encode("text", "UTF-8")) >= 128)
    )
    src = _spread(
        d.select("doc_id", F.encode("text", "UTF-8").alias("payload")), spark
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nf, mfe, te, zc = [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(payload)[:512]
                samples = [b - 64 for b in data]
                wav = encode_wav_pcm16(samples)
                back = np.asarray(
                    decode_wav_pcm16(wav)["samples"], dtype=np.int64
                )
                if back.tolist() != samples:
                    raise ValueError("WAV round trip altered samples")
                n = back.size
                n_frames = (n + 63) // 64
                energies = [
                    int((back[f * 64 : (f + 1) * 64] ** 2).sum())
                    for f in range(n_frames)
                ]
                ids.append(doc_id)
                nf.append(n_frames)
                mfe.append(max(energies))
                te.append(sum(energies))
                zc.append(int((back[:-1] * back[1:] < 0).sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "n_frames": pd.Series(nf, dtype="int64"),
                    "max_frame_energy": pd.Series(mfe, dtype="int64"),
                    "total_energy": pd.Series(te, dtype="int64"),
                    "zcr": pd.Series(zc, dtype="int64"),
                }
            )

    return src.mapInPandas(
        op,
        schema="doc_id long, n_frames long, max_frame_energy long, "
        "total_energy long, zcr long",
    )
