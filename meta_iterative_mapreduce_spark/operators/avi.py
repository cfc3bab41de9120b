"""MJPEG-in-AVI video container codec — pure stdlib, both directions.

Completes the multimodal family's video story: until now video was
the only modality exercised solely through the synthetic fixed-stride
byte splitter (`q_multimodal_frame_sample`). This module writes and
reads the real thing — the RIFF AVI container (the public AVI 1.0 /
OpenDML layout: `LIST hdrl` with `avih`/`strh`/`strf` headers,
`LIST movi` with per-frame `00dc` chunks, trailing `idx1` index)
carrying baseline-JFIF JPEG frames (Motion JPEG), composed with the
full color JPEG codec from operators/multimodal.py.

The at-scale point of the container walk: frame SAMPLING happens at
the chunk layer — every k-th `00dc` payload is sliced out by offset
arithmetic and only those bytes enter the JPEG entropy decoder. A
stride-k sample therefore pays 1/k of the decode cost, which is the
whole reason a 100 TB video-ingest tier samples at the container
level instead of decoding every frame. Everything runs Arrow-batched
inside mapInPandas, parallel per input partition, no driver collects.

Scope guards mirror the WAV/JPEG convention: non-MJPEG streams,
audio-interleaved (`LIST rec`) movi bodies, and missing headers raise
loudly rather than guessing.

Reference analog: none (kernel.cu:92-104 reads a numeric stdin
stream); this extends SURVEY.md §2.2 table M's multimodal family.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from meta_iterative_mapreduce_spark.io import load_table
from meta_iterative_mapreduce_spark.registry import register

_AVI_FRAME_H = 4  # rows per synthesized frame (width varies per doc)
_AVI_STRIDE = 3  # decode every 3rd frame
_AVI_FPS = 10
# Same bound family as _JPEG_COLOR_MEAN_BOUND (multimodal.py): the
# per-frame |decoded R-channel mean − source mean| tolerance. Frames
# here are single-MCU (w≤16, h=4) so edge padding dominates; measured
# worst case over the full sf0.01 fixture population is recorded in
# tests/test_avi.py.
_AVI_MEAN_BOUND = 16.0


def _chunk(cid: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) & 1 else b""
    return cid + struct.pack("<I", len(body)) + body + pad


def _list(ltype: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", ltype + body)


def encode_avi_mjpeg(
    frames: list[bytes], width: int, height: int, fps: int = _AVI_FPS
) -> bytes:
    """Wrap pre-encoded JPEG frame payloads in a spec-shaped AVI:
    RIFF('AVI ') → LIST hdrl (avih main header + LIST strl with a
    'vids'/'MJPG' strh and a BITMAPINFOHEADER strf) → LIST movi with
    one '00dc' chunk per frame (2-byte aligned) → idx1 keyframe
    index. Every length/offset field is real so any chunk-walking
    reader can parse the output."""
    n = len(frames)
    avih = struct.pack(
        "<10I",
        1_000_000 // fps,  # dwMicroSecPerFrame
        sum(len(f) for f in frames) * fps // max(n, 1),  # dwMaxBytesPerSec
        0,  # dwPaddingGranularity
        0x10,  # dwFlags: AVIF_HASINDEX
        n,  # dwTotalFrames
        0,  # dwInitialFrames
        1,  # dwStreams
        max((len(f) for f in frames), default=0),  # dwSuggestedBufferSize
        width,
        height,
    ) + b"\x00" * 16  # dwReserved[4]
    strh = (
        b"vids"
        + b"MJPG"
        + struct.pack(
            "<IHHIIIIIIII4H",
            0,  # dwFlags
            0,  # wPriority
            0,  # wLanguage
            0,  # dwInitialFrames
            1,  # dwScale
            fps,  # dwRate
            0,  # dwStart
            n,  # dwLength (frames)
            max((len(f) for f in frames), default=0),  # dwSuggestedBufferSize
            0xFFFFFFFF,  # dwQuality (default)
            0,  # dwSampleSize (0 = variable-size samples)
            0, 0, width, height,  # rcFrame
        )
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40,  # biSize
        width,
        height,
        1,  # biPlanes
        24,  # biBitCount
        b"MJPG",  # biCompression
        width * height * 3,  # biSizeImage
        0, 0, 0, 0,
    )
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih)
        + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )
    movi_body = b"".join(_chunk(b"00dc", f) for f in frames)
    # idx1 offsets are relative to the start of the 'movi' fourcc
    idx, off = [], 4
    for f in frames:
        idx.append(b"00dc" + struct.pack("<III", 0x10, off, len(f)))
        off += 8 + len(f) + (len(f) & 1)
    riff_body = (
        b"AVI " + hdrl + _list(b"movi", movi_body) + _chunk(b"idx1", b"".join(idx))
    )
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def split_avi_mjpeg(payload: bytes) -> dict:
    """Container-layer parse WITHOUT any frame decode: RIFF/'AVI '
    walk to LIST hdrl (reads avih dims/frame count, validates the
    'vids'/'MJPG' strh) and LIST movi (collects the '00dc' JPEG
    payload slices, honoring 2-byte chunk alignment). Returns
    dict(width, height, n_frames, frames=list[bytes]). This is the
    cheap path a stride sampler runs on every container; only the
    sampled slices ever reach the entropy decoder. Raises ValueError
    on corrupt structure, NotImplementedError outside the
    single-video-stream MJPEG scope."""
    data = bytes(payload)
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("bad RIFF/AVI header")
    (riff_len,) = struct.unpack("<I", data[4:8])
    if riff_len + 8 != len(data):
        raise ValueError("RIFF length mismatch")
    width = height = total = handler = None
    frames: list[bytes] = []

    def walk(lo: int, hi: int) -> None:
        nonlocal width, height, total, handler
        pos = lo
        while pos + 8 <= hi:
            cid = data[pos : pos + 4]
            (clen,) = struct.unpack("<I", data[pos + 4 : pos + 8])
            body_lo, body_hi = pos + 8, pos + 8 + clen
            if body_hi > hi:
                raise ValueError(f"truncated {cid!r} chunk")
            if cid == b"LIST":
                ltype = data[body_lo : body_lo + 4]
                if ltype == b"rec ":
                    raise NotImplementedError(
                        "audio-interleaved (LIST rec) movi bodies out of scope"
                    )
                walk(body_lo + 4, body_hi)
            elif cid == b"avih":
                vals = struct.unpack("<10I", data[body_lo : body_lo + 40])
                total, width, height = vals[4], vals[8], vals[9]
            elif cid == b"strh":
                fcc_type = data[body_lo : body_lo + 4]
                if fcc_type == b"vids":
                    handler = data[body_lo + 4 : body_lo + 8]
                    if handler != b"MJPG":
                        raise NotImplementedError(
                            f"non-MJPEG video stream {handler!r} out of scope"
                        )
            elif cid == b"00dc":
                frames.append(data[body_lo:body_hi])
            pos = body_hi + (clen & 1)

    walk(12, len(data))
    if width is None:
        raise ValueError("missing avih header")
    if handler is None:
        raise NotImplementedError("no video stream header (strh) found")
    if total != len(frames):
        raise ValueError(
            f"avih frame count {total} != movi 00dc chunks {len(frames)}"
        )
    return {"width": width, "height": height, "n_frames": total, "frames": frames}


@register(
    "q_multimodal_frame_sample_avi",
    oracle=f"""
    WITH framed AS (
        SELECT doc_id,
               CAST(doc_id % 13 + 4 AS INT) AS w,
               octet_length(encode(text))
                   // ((doc_id % 13 + 4) * {_AVI_FRAME_H}) AS n_frames
        FROM documents
    )
    SELECT d.doc_id,
           CAST(d.n_frames AS INT) AS n_frames,
           CAST(s.f AS INT) AS frame_idx,
           d.w AS width,
           {_AVI_FRAME_H} AS height,
           TRUE AS mean_ok
    FROM framed d,
         UNNEST(generate_series(0, d.n_frames - 1, {_AVI_STRIDE})) AS s(f)
    WHERE d.n_frames > 0
    """,
)
def q_multimodal_frame_sample_avi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-container video frame sampling: each document's byte
    stream becomes w×{_AVI_FRAME_H} gray frames (w = doc_id%13+4),
    each frame color-synthesized (R=p, G=2p+7, B=5p+11 mod 256 —
    the JPEG/WebP family's deterministic synth), JPEG-encoded, and
    packed into a spec-shaped MJPEG AVI. The decode side then walks
    the container, slices out every {_AVI_STRIDE}rd '00dc' chunk, and
    runs ONLY those through the full baseline JPEG decoder — paying
    1/{_AVI_STRIDE} of the entropy-decode cost, which is the
    container-level sampling pattern a 100 TB video tier depends on.
    Oracle contract mirrors q_multimodal_decode_jpeg_color: frame
    geometry and sampled indices are exact integers; mean_ok asserts
    the decoded R-channel mean is within {_AVI_MEAN_BOUND} of the
    source frame mean (lossy codec ⇒ sketch-family bound; a container
    mis-slice or codec regression flips the flag and fails the hash
    gate)."""
    from meta_iterative_mapreduce_spark.operators.multimodal import (
        _spread,
        decode_jpeg_color,
        encode_jpeg_color_batch,
    )

    d = load_table(spark, sf_dir, "documents")
    src = _spread(
        d.select("doc_id", F.encode("text", "UTF-8").alias("payload")), spark
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            o_doc, o_n, o_idx, o_w, o_ok = [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(payload)
                w = int(doc_id) % 13 + 4
                fb = w * _AVI_FRAME_H
                n_frames = len(data) // fb
                if n_frames == 0:
                    continue
                # all frames of the doc synthesized and JPEG-encoded in
                # ONE batched numpy pass (optimization r15 — a per-frame
                # call paid numpy's fixed call overhead on every
                # 12-block frame)
                gray = (
                    np.frombuffer(data, dtype=np.uint8, count=n_frames * fb)
                    .astype(np.int64)
                    .reshape(n_frames, fb)
                )
                rgb = (
                    np.stack(
                        [gray, (2 * gray + 7) % 256, (5 * gray + 11) % 256],
                        axis=2,
                    )
                    .astype(np.uint8)
                    .reshape(n_frames, _AVI_FRAME_H, w, 3)
                )
                jpegs = encode_jpeg_color_batch(w, _AVI_FRAME_H, rgb)
                src_means = gray.mean(axis=1)
                avi = encode_avi_mjpeg(jpegs, w, _AVI_FRAME_H)

                parsed = split_avi_mjpeg(avi)
                if (
                    parsed["width"],
                    parsed["height"],
                    parsed["n_frames"],
                ) != (w, _AVI_FRAME_H, n_frames):
                    raise ValueError("AVI header mismatch after round trip")
                for f in range(0, n_frames, _AVI_STRIDE):
                    dec = decode_jpeg_color(parsed["frames"][f])
                    if (dec["width"], dec["height"]) != (w, _AVI_FRAME_H):
                        raise ValueError("frame dim mismatch after AVI round trip")
                    r_mean = float(
                        dec["pixels"][..., 0].astype(np.float64).mean()
                    )
                    src_mean = float(src_means[f])
                    o_doc.append(doc_id)
                    o_n.append(n_frames)
                    o_idx.append(f)
                    o_w.append(w)
                    o_ok.append(abs(r_mean - src_mean) < _AVI_MEAN_BOUND)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(o_doc, dtype="int64"),
                    "n_frames": pd.Series(o_n, dtype="int32"),
                    "frame_idx": pd.Series(o_idx, dtype="int32"),
                    "width": pd.Series(o_w, dtype="int32"),
                    "height": pd.Series(
                        [_AVI_FRAME_H] * len(o_doc), dtype="int32"
                    ),
                    "mean_ok": pd.Series(o_ok, dtype="bool"),
                }
            )

    return src.mapInPandas(
        op,
        schema="doc_id long, n_frames int, frame_idx int, width int, "
        "height int, mean_ok boolean",
    )
