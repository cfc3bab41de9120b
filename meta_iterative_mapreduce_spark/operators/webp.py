"""WebP VP8L lossless image codec — pure stdlib/numpy, both directions.

The third leg of the real-web-format raster family (PNG, JPEG done in
rounds 3-4): VP8L is LZ77 + canonical prefix (Huffman) coding over
ARGB pixels with optional spatial transforms — no inter-prediction,
so like PNG it is exactly invertible and gets the exact-sum oracle
contract. Implemented here per the public WebP lossless bitstream
specification (RFC 9649):

- RIFF/WEBP container walk; `VP8L` chunk; 0x2F signature; 14-bit
  dimensions (§3).
- LSB-first bit order; canonical prefix codes (DEFLATE-style
  assignment), transmitted either as "simple" (1-2 symbols) or as
  code-length-coded lengths with the 17/18 zero-run symbols and the
  kCodeLengthCodeOrder permutation (§5.2).
- Five prefix codes per image: green+length+cache, red, blue, alpha,
  distance (§5.2.2); LZ77 length/distance prefix-value coding
  (§4.2.2) with the close-neighborhood 2D distance map; color cache
  with the 0x1e35a7bd multiplicative hash (§4.3).
- Subtract-green transform, forward (encoder) and inverse (§4.2.4).

Out-of-scope branches raise NotImplementedError loudly (lossy VP8,
VP8X extended container, predictor/color/palette transforms, meta
prefix images) — the same honest scope-guard convention as the JPEG
decoder's "baseline sequential only".

The encoder emits literal pixels, left-run LZ77 backrefs (distance
map entry (1,0)), and color-cache hits, with real frequency-derived
length-limited Huffman codes — every decoder branch it feeds is
exercised by round-trip tests (tests/test_webp.py); far 2D distance
map entries are generated from the spec's ordering rule
(d² asc, dy desc, dx desc over the [-8..8]×[0..7] window, first 120)
and only reachable from foreign streams.

Reference analog: none (kernel.cu:92-104 reads a numeric stdin
stream); this extends SURVEY.md §2.2 table M's multimodal family so
real web-corpus rasters (JPEG/PNG/WebP) all decode natively at the
100 TB ingest tier — Arrow-batched mapInPandas, parallel per input
partition, no driver collects.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from meta_iterative_mapreduce_spark.io import load_table
from meta_iterative_mapreduce_spark.operators.codecs import canonical_codes
from meta_iterative_mapreduce_spark.registry import register

# ---------------------------------------------------------------------------
# Bit I/O — VP8L packs bits LSB-first within bytes (RFC 9649 §3).
# Prefix-code bits are read root-first, i.e. the code's MSB arrives
# first in the stream, so codes are bit-reversed on write and decode
# tables are indexed by bit-reversed prefixes.
# ---------------------------------------------------------------------------


class _LsbWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def bits(self, value: int, nbits: int) -> None:
        self.acc |= (value & ((1 << nbits) - 1)) << self.n
        self.n += nbits
        while self.n >= 8:
            self.buf.append(self.acc & 0xFF)
            self.acc >>= 8
            self.n -= 8

    def done(self) -> bytes:
        if self.n:
            self.buf.append(self.acc & 0xFF)
            self.acc, self.n = 0, 0
        return bytes(self.buf)


class _LsbReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def _fill(self, need: int) -> None:
        while self.n < need:
            b = self.data[self.pos] if self.pos < len(self.data) else 0
            self.pos += 1
            self.acc |= b << self.n
            self.n += 8

    def bits(self, k: int) -> int:
        if k == 0:
            return 0
        self._fill(k)
        v = self.acc & ((1 << k) - 1)
        self.acc >>= k
        self.n -= k
        return v


def _bit_reverse(code: int, length: int) -> int:
    r = 0
    for _ in range(length):
        r = (r << 1) | (code & 1)
        code >>= 1
    return r


# ---------------------------------------------------------------------------
# Canonical, length-limited prefix codes.
# ---------------------------------------------------------------------------


def _huffman_depths(freqs: list[int]) -> list[int]:
    """Unlimited Huffman code lengths (tree-merge depths)."""
    import heapq

    heap = [(f, s, (s,)) for s, f in enumerate(freqs) if f]
    heapq.heapify(heap)
    depths = [0] * len(freqs)
    if not heap:
        return depths
    if len(heap) == 1:
        depths[heap[0][1]] = 1
        return depths
    tie = len(freqs)
    while len(heap) > 1:
        f1, _, s1 = heapq.heappop(heap)
        f2, _, s2 = heapq.heappop(heap)
        for s in s1 + s2:
            depths[s] += 1
        heapq.heappush(heap, (f1 + f2, tie, s1 + s2))
        tie += 1
    return depths


def limited_code_lengths(freqs: list[int], limit: int) -> list[int]:
    """Huffman code lengths clamped to `limit`, with the Kraft sum
    restored to exactly 1 (clamp, then lengthen cheapest symbols to
    fix oversubscription, then shorten to reclaim slack) — the
    standard DEFLATE-family fixup. Exactness is property-tested in
    tests/test_webp.py."""
    lengths = _huffman_depths(freqs)
    if not any(lengths):
        return lengths
    if max(lengths) <= limit:
        return lengths
    lengths = [min(l, limit) if l else 0 for l in lengths]
    full = 1 << limit
    kraft = sum(1 << (limit - l) for l in lengths if l)
    # Oversubscribed: push the lowest-frequency symbols deeper.
    order = sorted(
        (s for s, l in enumerate(lengths) if l), key=lambda s: (freqs[s], s)
    )
    while kraft > full:
        for s in order:
            if lengths[s] < limit:
                kraft -= 1 << (limit - lengths[s] - 1)
                lengths[s] += 1
                break
        else:  # pragma: no cover - cannot happen while alphabet <= 2^limit
            raise ValueError("cannot satisfy length limit")
    # Slack: promote the highest-frequency deep symbols back up.
    order = sorted(
        (s for s, l in enumerate(lengths) if l),
        key=lambda s: (-freqs[s], s),
    )
    changed = True
    while changed:
        changed = False
        for s in order:
            gain = 1 << (limit - lengths[s])  # cost delta of l -> l-1
            if lengths[s] > 1 and kraft + gain <= full:
                lengths[s] -= 1
                kraft += gain
                changed = True
    return lengths


class _DecTable:
    """Flat decode table: index by the next `max_len` stream bits
    (bit-reversed prefix), yielding (symbol, code_length) in one
    lookup — no per-bit tree walk in the pixel loop."""

    __slots__ = ("max_len", "table", "const")

    def __init__(self, lengths: list[int]):
        used = [(l, s) for s, l in enumerate(lengths) if l]
        if not used:
            raise ValueError("empty prefix code")
        if len(used) == 1:
            self.max_len, self.table, self.const = 0, None, used[0][1]
            return
        self.const = None
        codes = canonical_codes(lengths)
        self.max_len = max(l for l, _ in used)
        size = 1 << self.max_len
        table: list[tuple[int, int] | None] = [None] * size
        for sym, l in enumerate(lengths):
            if not l:
                continue
            rev = _bit_reverse(codes[sym], l)
            for idx in range(rev, size, 1 << l):
                table[idx] = (sym, l)
        self.table = table

    def read(self, br: _LsbReader) -> int:
        if self.table is None:
            return self.const
        br._fill(self.max_len)
        ent = self.table[br.acc & ((1 << self.max_len) - 1)]
        if ent is None:
            raise ValueError("invalid prefix code in stream")
        sym, l = ent
        br.acc >>= l
        br.n -= l
        return sym


class _EncCode:
    """Encoder view: per-symbol (bit-reversed code, length); a
    single-symbol code costs zero bits (VP8L convention)."""

    __slots__ = ("rev", "lengths", "is_const")

    def __init__(self, lengths: list[int]):
        used = [s for s, l in enumerate(lengths) if l]
        self.lengths = lengths
        self.is_const = len(used) == 1
        codes = canonical_codes(lengths) if not self.is_const else None
        self.rev = (
            None
            if self.is_const
            else [
                _bit_reverse(codes[s], l) if l else 0
                for s, l in enumerate(lengths)
            ]
        )

    def write(self, bw: _LsbWriter, sym: int) -> None:
        if self.is_const:
            return
        bw.bits(self.rev[sym], self.lengths[sym])


# ---------------------------------------------------------------------------
# Prefix-code (de)serialization — RFC 9649 §5.2.1/§5.2.2.
# ---------------------------------------------------------------------------

_CLC_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)
_MAIN_LIMIT = 15  # max main code length
_CLC_LIMIT = 7  # code-length-code lengths are sent in 3 bits


def _write_prefix_code(bw: _LsbWriter, lengths: list[int]) -> _EncCode:
    used = [s for s, l in enumerate(lengths) if l]
    if 1 <= len(used) <= 2 and max(used) < 256:
        # simple code
        bw.bits(1, 1)
        bw.bits(len(used) - 1, 1)
        if used[0] <= 1:
            bw.bits(0, 1)  # first symbol in 1 bit
            bw.bits(used[0], 1)
        else:
            bw.bits(1, 1)  # first symbol in 8 bits
            bw.bits(used[0], 8)
        if len(used) == 2:
            bw.bits(used[1], 8)
        eff = [0] * len(lengths)
        for s in used:
            eff[s] = 1
        return _EncCode(eff)
    bw.bits(0, 1)  # normal (code-length-coded)
    # Tokenize lengths: literal 0-15 plus zero-runs via 17 (3-10) and
    # 18 (11-138); count code-length-code symbol freqs from the tokens.
    tokens: list[tuple[int, int, int]] = []  # (clc_symbol, extra, extra_bits)
    i, n = 0, len(lengths)
    while i < n:
        l = lengths[i]
        if l == 0:
            run = 1
            while i + run < n and lengths[i + run] == 0:
                run += 1
            i += run
            while run >= 3:
                if run >= 11:
                    take = min(run, 138)
                    tokens.append((18, take - 11, 7))
                else:
                    take = run
                    tokens.append((17, take - 3, 3))
                run -= take
            tokens.extend((0, 0, 0) for _ in range(run))
        else:
            tokens.append((l, 0, 0))
            i += 1
    clc_freq = [0] * 19
    for sym, _, _ in tokens:
        clc_freq[sym] += 1
    clc_lengths = limited_code_lengths(clc_freq, _CLC_LIMIT)
    bw.bits(19 - 4, 4)  # num_code_lengths = 19 (all, in kOrder)
    for sym in _CLC_ORDER:
        bw.bits(clc_lengths[sym], 3)
    bw.bits(0, 1)  # no max_symbol shortcut: one token stream, read to end
    clc = _EncCode(clc_lengths)
    for sym, extra, ebits in tokens:
        clc.write(bw, sym)
        if ebits:
            bw.bits(extra, ebits)
    return _EncCode(lengths)


def _read_prefix_code(br: _LsbReader, alphabet_size: int) -> _DecTable:
    if br.bits(1):  # simple
        nsym = br.bits(1) + 1
        s0 = br.bits(8) if br.bits(1) else br.bits(1)
        lengths = [0] * alphabet_size
        if nsym == 2:
            s1 = br.bits(8)
            lengths[s0] = lengths[s1] = 1
        else:
            lengths[s0] = 1
        return _DecTable(lengths)
    num_clc = 4 + br.bits(4)
    clc_lengths = [0] * 19
    for i in range(num_clc):
        clc_lengths[_CLC_ORDER[i]] = br.bits(3)
    clc = _DecTable(clc_lengths)
    if br.bits(1):  # explicit symbol budget
        length_nbits = 2 + 2 * br.bits(3)
        max_symbol = 2 + br.bits(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    pos, prev = 0, 8
    while pos < alphabet_size and max_symbol > 0:
        max_symbol -= 1
        s = clc.read(br)
        if s < 16:
            lengths[pos] = s
            pos += 1
            if s:
                prev = s
        elif s == 16:
            rep = 3 + br.bits(2)
            for _ in range(rep):
                if pos < alphabet_size:
                    lengths[pos] = prev
                    pos += 1
        elif s == 17:
            pos += 3 + br.bits(3)
        else:  # 18
            pos += 11 + br.bits(7)
    return _DecTable(lengths)


# ---------------------------------------------------------------------------
# LZ77 length/distance prefix values (RFC 9649 §4.2.2) and the
# close-neighborhood 2D distance map.
# ---------------------------------------------------------------------------


def _prefix_encode(v: int) -> tuple[int, int, int]:
    """value (>=1) -> (prefix_code, extra_value, extra_bits)."""
    if v <= 4:
        return v - 1, 0, 0
    x = v - 1
    e = x.bit_length() - 2
    if x >= (3 << e):
        return 2 * e + 3, x - (3 << e), e
    return 2 * e + 2, x - (2 << e), e


def _prefix_decode(code: int, br: _LsbReader) -> int:
    if code < 4:
        return code + 1
    e = (code - 2) >> 1
    offset = (2 + (code & 1)) << e
    return offset + br.bits(e) + 1


def _dist_map() -> list[tuple[int, int]]:
    """The 120 close-neighborhood (dx, dy) offsets, generated from the
    spec's ordering (squared distance asc, then dy desc, then dx desc)
    over the [-8..8] x [0..7] window. Entries (0,1)/(1,0)/(1,1)/(-1,1)
    and every encoder-emitted code are round-trip-verified; the far
    tail follows the generation rule."""
    cand = [
        (dx, dy)
        for dy in range(8)
        for dx in range(-8, 9)
        if dy > 0 or dx > 0
    ]
    cand.sort(key=lambda p: (p[0] * p[0] + p[1] * p[1], -p[1], -p[0]))
    return cand[:120]


_DIST_MAP = _dist_map()


def _map_distance(dist_code: int, xsize: int) -> int:
    if dist_code > 120:
        return dist_code - 120
    dx, dy = _DIST_MAP[dist_code - 1]
    return max(1, dy * xsize + dx)


_HASH_MUL = 0x1E35A7BD
_N_LENGTH_CODES = 24
_MAX_LZ_LEN = 4096


# ---------------------------------------------------------------------------
# Encoder.
# ---------------------------------------------------------------------------


def encode_webp_lossless(
    width: int,
    height: int,
    rgba: np.ndarray,
    cache_bits: int = 8,
    subtract_green: bool = True,
    use_lz77: bool = True,
) -> bytes:
    """Encode an (h, w, 4) uint8 RGBA array as a spec-valid lossless
    WebP: optional subtract-green transform, color cache, left-run
    LZ77, frequency-built length-limited canonical prefix codes. The
    toggles exist so tests can exercise each decoder branch in
    isolation."""
    if rgba.shape != (height, width, 4):
        raise ValueError("rgba must be (height, width, 4)")
    r = rgba[..., 0].astype(np.int64).ravel()
    g = rgba[..., 1].astype(np.int64).ravel()
    b = rgba[..., 2].astype(np.int64).ravel()
    a = rgba[..., 3].astype(np.int64).ravel()
    if subtract_green:
        r = (r - g) % 256
        b = (b - g) % 256
    argb = ((a << 24) | (r << 16) | (g << 8) | b).tolist()
    n = len(argb)

    # Pass 1: tokenize with a simulated color cache (the decoder
    # inserts EVERY emitted pixel, including backref copies).
    cache_size = 1 << cache_bits if cache_bits else 0
    cache = [None] * cache_size if cache_size else None
    shift = 32 - cache_bits if cache_bits else 0
    tokens: list[tuple] = []
    i = 0
    while i < n:
        px = argb[i]
        if use_lz77 and i > 0 and px == argb[i - 1]:
            run = 1
            while (
                i + run < n
                and argb[i + run] == argb[i - 1 + run]
                and run < _MAX_LZ_LEN
            ):
                run += 1
            tokens.append(("copy", run, 2))  # distance code 2 = (1, 0)
            if cache is not None:
                for k in range(i, i + run):
                    cache[(_HASH_MUL * argb[k] & 0xFFFFFFFF) >> shift] = argb[k]
            i += run
            continue
        if cache is not None:
            idx = (_HASH_MUL * px & 0xFFFFFFFF) >> shift
            if cache[idx] == px:
                tokens.append(("cache", idx))
                i += 1
                continue
            cache[idx] = px
        tokens.append(("lit", px))
        i += 1

    # Pass 2: symbol frequencies.
    green_alpha = 256 + _N_LENGTH_CODES + cache_size
    fg = [0] * green_alpha
    fr = [0] * 256
    fb = [0] * 256
    fa = [0] * 256
    fd = [0] * 40
    for t in tokens:
        if t[0] == "lit":
            px = t[1]
            fg[(px >> 8) & 0xFF] += 1
            fr[(px >> 16) & 0xFF] += 1
            fb[px & 0xFF] += 1
            fa[(px >> 24) & 0xFF] += 1
        elif t[0] == "copy":
            lc, _, _ = _prefix_encode(t[1])
            fg[256 + lc] += 1
            dc, _, _ = _prefix_encode(t[2])
            fd[dc] += 1
        else:
            fg[256 + _N_LENGTH_CODES + t[1]] += 1
    if not fd[0] and not any(fd):
        fd[0] = 1  # distance code must still be transmitted

    bw = _LsbWriter()
    bw.bits(width - 1, 14)
    bw.bits(height - 1, 14)
    bw.bits(0, 1)  # alpha hint
    bw.bits(0, 3)  # version
    if subtract_green:
        bw.bits(1, 1)  # transform present
        bw.bits(2, 2)  # SUBTRACT_GREEN
    bw.bits(0, 1)  # no (more) transforms
    if cache_size:
        bw.bits(1, 1)
        bw.bits(cache_bits, 4)
    else:
        bw.bits(0, 1)
    bw.bits(0, 1)  # no meta prefix codes (single huffman group)
    cg = _write_prefix_code(bw, limited_code_lengths(fg, _MAIN_LIMIT))
    cr = _write_prefix_code(bw, limited_code_lengths(fr, _MAIN_LIMIT))
    cb = _write_prefix_code(bw, limited_code_lengths(fb, _MAIN_LIMIT))
    ca = _write_prefix_code(bw, limited_code_lengths(fa, _MAIN_LIMIT))
    cd = _write_prefix_code(bw, limited_code_lengths(fd, _MAIN_LIMIT))
    for t in tokens:
        if t[0] == "lit":
            px = t[1]
            cg.write(bw, (px >> 8) & 0xFF)
            cr.write(bw, (px >> 16) & 0xFF)
            cb.write(bw, px & 0xFF)
            ca.write(bw, (px >> 24) & 0xFF)
        elif t[0] == "copy":
            lc, lx, lb = _prefix_encode(t[1])
            cg.write(bw, 256 + lc)
            if lb:
                bw.bits(lx, lb)
            dc, dx, db = _prefix_encode(t[2])
            cd.write(bw, dc)
            if db:
                bw.bits(dx, db)
        else:
            cg.write(bw, 256 + _N_LENGTH_CODES + t[1])
    stream = b"\x2f" + bw.done()
    chunk = b"VP8L" + struct.pack("<I", len(stream)) + stream
    if len(stream) % 2:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


# ---------------------------------------------------------------------------
# Decoder.
# ---------------------------------------------------------------------------


def decode_webp_lossless(payload: bytes) -> dict:
    """Parse a lossless WebP: RIFF/WEBP container walk to the VP8L
    chunk, then the full VP8L bitstream — transforms, color cache,
    the five prefix codes, and the literal/backref/cache pixel loop.
    Returns dict(width, height, n_pixels, sum_r, sum_g, sum_b,
    pixels=(h, w, 4) uint8 RGBA). Raises ValueError on corrupt input
    and NotImplementedError on out-of-scope variants (lossy VP8,
    VP8X, predictor/color/palette transforms, meta prefix images)."""
    data = bytes(payload)
    if data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("bad RIFF/WEBP header")
    (riff_len,) = struct.unpack("<I", data[4:8])
    if riff_len + 8 != len(data):
        raise ValueError("RIFF length mismatch")
    pos, stream = 12, None
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        (clen,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + clen]
        if len(body) != clen:
            raise ValueError(f"truncated {cid!r} chunk")
        if cid == b"VP8L":
            stream = body
            break
        if cid in (b"VP8 ", b"VP8X"):
            raise NotImplementedError(
                "lossy/extended WebP out of scope (VP8L lossless only)"
            )
        pos += 8 + clen + (clen & 1)  # chunks are 2-byte aligned
    if stream is None:
        raise ValueError("no VP8L chunk")
    if stream[:1] != b"\x2f":
        raise ValueError("bad VP8L signature")
    br = _LsbReader(stream[1:])
    w = br.bits(14) + 1
    h = br.bits(14) + 1
    br.bits(1)  # alpha hint
    if br.bits(3) != 0:
        raise ValueError("unknown VP8L version")
    subtract_green = False
    while br.bits(1):
        ttype = br.bits(2)
        if ttype == 2:
            subtract_green = True
        else:
            raise NotImplementedError(
                "predictor/color/palette transforms out of scope"
            )
    cache_bits = br.bits(4) if br.bits(1) else 0
    if cache_bits > 11:
        raise ValueError("invalid color cache size")
    cache_size = 1 << cache_bits if cache_bits else 0
    if br.bits(1):
        raise NotImplementedError("meta prefix images out of scope")
    green_alpha = 256 + _N_LENGTH_CODES + cache_size
    cg = _read_prefix_code(br, green_alpha)
    cr = _read_prefix_code(br, 256)
    cb = _read_prefix_code(br, 256)
    ca = _read_prefix_code(br, 256)
    cd = _read_prefix_code(br, 40)

    n = w * h
    out = [0] * n
    cache = [0] * cache_size if cache_size else None
    shift = 32 - cache_bits if cache_bits else 0
    i = 0
    while i < n:
        s = cg.read(br)
        if s < 256:
            red = cr.read(br)
            blue = cb.read(br)
            alpha = ca.read(br)
            px = (alpha << 24) | (red << 16) | (s << 8) | blue
            out[i] = px
            i += 1
            if cache is not None:
                cache[(_HASH_MUL * px & 0xFFFFFFFF) >> shift] = px
        elif s < 256 + _N_LENGTH_CODES:
            length = _prefix_decode(s - 256, br)
            dist = _map_distance(_prefix_decode(cd.read(br), br), w)
            if dist > i:
                raise ValueError("backward reference before image start")
            if i + length > n:
                raise ValueError("backward reference past image end")
            if cache is not None:
                for _ in range(length):
                    px = out[i - dist]
                    out[i] = px
                    cache[(_HASH_MUL * px & 0xFFFFFFFF) >> shift] = px
                    i += 1
            else:
                for _ in range(length):
                    out[i] = out[i - dist]
                    i += 1
        else:
            out[i] = cache[s - 256 - _N_LENGTH_CODES]
            i += 1
    px = np.array(out, dtype=np.uint32)
    alpha = (px >> 24) & 0xFF
    red = (px >> 16) & 0xFF
    green = (px >> 8) & 0xFF
    blue = px & 0xFF
    if subtract_green:
        red = (red + green) % 256
        blue = (blue + green) % 256
    rgba = np.stack([red, green, blue, alpha], axis=1).astype(np.uint8)
    rgba = rgba.reshape(h, w, 4)
    return {
        "width": w,
        "height": h,
        "n_pixels": n,
        "sum_r": int(rgba[..., 0].astype(np.int64).sum()),
        "sum_g": int(rgba[..., 1].astype(np.int64).sum()),
        "sum_b": int(rgba[..., 2].astype(np.int64).sum()),
        "pixels": rgba,
    }


# ---------------------------------------------------------------------------
# Registered query.
# ---------------------------------------------------------------------------


@register(
    "q_multimodal_decode_webp",
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
    SELECT d.doc_id, d.w AS width, d.h AS height,
           CAST(d.w * d.h AS BIGINT) AS n_pixels,
           CAST(SUM(CAST(ascii(SUBSTR(d.text, CAST(t.i AS INT), 1))
                         AS BIGINT)) AS BIGINT) AS sum_r,
           CAST(SUM((2 * ascii(SUBSTR(d.text, CAST(t.i AS INT), 1)) + 7)
                    % 256) AS BIGINT) AS sum_g,
           CAST(SUM((5 * ascii(SUBSTR(d.text, CAST(t.i AS INT), 1)) + 11)
                    % 256) AS BIGINT) AS sum_b
    FROM dims d,
         UNNEST(generate_series(1, d.w * d.h)) AS t(i)
    GROUP BY d.doc_id, d.w, d.h
    """,
)
def q_multimodal_decode_webp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through lossless WebP (VP8L): documents become RGBA
    images (R=p, G=2p+7, B=5p+11 mod 256, A=255 over the doc's byte
    plane — the color-JPEG family's deterministic synth), encoded as
    spec-valid VP8L (subtract-green + color cache + LZ77 + canonical
    prefix codes) and decoded by the full bitstream parser — both
    sides Arrow-batched mapInPandas. VP8L is lossless, so the oracle
    checks EXACT per-channel integer sums recomputed from the source
    text in SQL; any bit defect in either direction breaks the hash
    gate. Plumbing (dims formula, ASCII guard, _spread parallelism)
    matches the PNG/JPEG family."""
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
            ids, ws, hs, np_, sr, sg, sb = [], [], [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(payload)
                w = int(doc_id) % 13 + 4
                h = min(len(data) // w, _MAX_HEIGHT)
                gray = np.frombuffer(data[: w * h], dtype=np.uint8).astype(
                    np.int64
                )
                rgba = (
                    np.stack(
                        [
                            gray,
                            (2 * gray + 7) % 256,
                            (5 * gray + 11) % 256,
                            np.full_like(gray, 255),
                        ],
                        axis=1,
                    )
                    .astype(np.uint8)
                    .reshape(h, w, 4)
                )
                webp = encode_webp_lossless(w, h, rgba)
                f = decode_webp_lossless(webp)
                if (f["width"], f["height"]) != (w, h):
                    raise ValueError("dim mismatch after WebP round trip")
                if not np.array_equal(f["pixels"], rgba):
                    raise ValueError("pixel mismatch after WebP round trip")
                ids.append(doc_id)
                ws.append(w)
                hs.append(h)
                np_.append(w * h)
                sr.append(f["sum_r"])
                sg.append(f["sum_g"])
                sb.append(f["sum_b"])
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "n_pixels": pd.Series(np_, dtype="int64"),
                    "sum_r": pd.Series(sr, dtype="int64"),
                    "sum_g": pd.Series(sg, dtype="int64"),
                    "sum_b": pd.Series(sb, dtype="int64"),
                }
            )

    return src.mapInPandas(
        op,
        schema="doc_id long, width int, height int, n_pixels long, "
        "sum_r long, sum_g long, sum_b long",
    )
