"""Shared codec kernel for the multimodal encoders/decoders.

One implementation of each algorithm that several container formats
share, so every bound check and spec subtlety lives in one place:

- LZW with variable-width codes (GIF89a appendix F, TIFF 6.0 §13,
  PDF 1.7 §7.4.4): CLEAR/EOI codes after the roots, KwKwK, a 12-bit
  cap with a dictionary reset. GIF packs codes LSB-first and widens
  when the decoder's table reaches 2^width; TIFF and PDF pack
  MSB-first with "early change", one entry sooner.
- PackBits (TIFF 6.0 §9) and PDF RunLengthDecode (PDF 1.7 §7.4.5):
  the same run/literal coding; PDF ends at an EOD byte, TIFF at a
  known output size.
- PNG scanline filters None/Sub/Up/Average/Paeth (RFC 2083 §6), also
  used by PDF's /Predictor >= 10.
- Canonical prefix codes: JPEG's Annex C.2 and DEFLATE's RFC 1951
  §3.2.2 assignment are the same rule.
"""

from __future__ import annotations

import sys
from collections.abc import Sequence

MAX_LZW_WIDTH = 12


def lzw_encode(
    data: bytes, min_code_size: int, *, msb: bool, early_change: bool
) -> bytes:
    """Greedy longest-match LZW: CLEAR first, then one code per
    longest known prefix, then EOI. The code width follows the
    DECODER's table size (it defines one entry per code received,
    except the first after a CLEAR), so both sides widen on the same
    code under either growth rule. GIF fills the 12-bit table before
    it clears; TIFF/PDF writers clear three entries short of it."""
    clear = 1 << min_code_size
    eoi = clear + 1
    if data and max(data) >= clear:
        raise ValueError(
            f"pixel index {max(data)} needs more than the "
            f"{clear} roots of min_code_size={min_code_size}"
        )
    early = int(early_change)
    last_code = (1 << MAX_LZW_WIDTH) - 3 * early
    width = min_code_size + 1
    grow_at = (1 << width) - early
    codes = [clear]
    widths = [width]
    table: dict[int, int] = {}  # (prefix code << 8 | next byte) -> code
    next_code = eoi + 1  # also the decoder's table size after a code
    it = iter(data)
    prefix = next(it, None)
    for px in it:
        key = (prefix << 8) | px
        code = table.get(key)
        if code is not None:
            prefix = code
            continue
        codes.append(prefix)
        widths.append(width)
        table[key] = next_code
        if next_code == grow_at and width < MAX_LZW_WIDTH:
            width += 1
            grow_at = (1 << width) - early
        next_code += 1
        if next_code > last_code:
            codes.append(clear)
            widths.append(width)
            table = {}
            next_code = eoi + 1
            width = min_code_size + 1
            grow_at = (1 << width) - early
        prefix = px
    if prefix is not None:
        codes.append(prefix)
        widths.append(width)
        # the decoder defines an entry for this final code too, so EOI
        # may be read one bit wider
        if next_code == grow_at and width < MAX_LZW_WIDTH:
            width += 1
    codes.append(eoi)
    widths.append(width)

    out = bytearray()
    acc = nbits = 0
    if msb:
        for code, w in zip(codes, widths):
            acc = (acc << w) | code
            nbits += w
            while nbits >= 8:
                nbits -= 8
                out.append((acc >> nbits) & 0xFF)
            acc &= (1 << nbits) - 1
        if nbits:
            out.append((acc << (8 - nbits)) & 0xFF)
    else:
        for code, w in zip(codes, widths):
            acc |= code << nbits
            nbits += w
            while nbits >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8
        if nbits:
            out.append(acc & 0xFF)
    return bytes(out)


def lzw_decode(
    data: bytes,
    min_code_size: int,
    *,
    msb: bool,
    early_change: bool,
    n_expected: int | None = None,
) -> bytes:
    """Inverse of lzw_encode, including KwKwK (code == next free code)
    and width growth/reset. With `n_expected` (GIF image area, TIFF
    strip size) the output must be exactly that long; without (PDF)
    the stream simply ends at EOI."""
    if not 2 <= min_code_size <= 11:
        raise ValueError(f"bad LZW min code size {min_code_size}")
    clear = 1 << min_code_size
    eoi = clear + 1
    early = int(early_change)
    roots = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(roots)
    width = min_code_size + 1
    mask = (1 << width) - 1
    grow_at = (1 << width) - early
    limit = sys.maxsize if n_expected is None else n_expected
    out = bytearray()
    acc = nbits = pos = 0
    n = len(data)
    prev: bytes | None = None
    while True:
        while nbits < width:
            if pos >= n:
                raise ValueError("LZW stream truncated (no EOI)")
            if msb:
                acc = ((acc << 8) | data[pos]) & 0xFFFFFF
            else:
                acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        nbits -= width
        if msb:
            code = (acc >> nbits) & mask
        else:
            code = acc & mask
            acc >>= width
        if code == eoi:
            break
        if code == clear:
            table = list(roots)
            width = min_code_size + 1
            mask = (1 << width) - 1
            grow_at = (1 << width) - early
            prev = None
            continue
        if prev is None:
            if code >= clear:
                raise ValueError(f"first LZW code {code} not a root")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]  # KwKwK
            table.append(entry)
        else:
            raise ValueError(f"LZW code {code} beyond table {len(table)}")
        out += entry
        if len(table) == grow_at and width < MAX_LZW_WIDTH:
            width += 1
            mask = (1 << width) - 1
            grow_at = (1 << width) - early
        prev = entry
        if len(out) > limit:
            raise ValueError(f"LZW output exceeds the declared {limit} bytes")
    if n_expected is not None and len(out) != n_expected:
        raise ValueError(
            f"LZW produced {len(out)} bytes, stream declares {n_expected}"
        )
    return bytes(out)


def packbits_decode(data: bytes, n_expected: int | None = None) -> bytes:
    """PackBits: header byte b < 128 copies b+1 literal bytes, b > 128
    repeats the next byte 257-b times. With `n_expected` (TIFF) 128 is
    a no-op and decoding stops at that size; without (PDF
    RunLengthDecode) 128 is EOD, which the stream must reach."""
    out = bytearray()
    i, n = 0, len(data)
    while n_expected is None or len(out) < n_expected:
        if i >= n:
            raise ValueError(
                "PackBits stream without EOD"
                if n_expected is None
                else "PackBits stream truncated"
            )
        b = data[i]
        i += 1
        if b < 128:
            if i + b + 1 > n:
                raise ValueError("PackBits literal truncated")
            out += data[i : i + b + 1]
            i += b + 1
        elif b > 128:
            if i >= n:
                raise ValueError("PackBits run truncated")
            out += data[i : i + 1] * (257 - b)
            i += 1
        elif n_expected is None:
            return bytes(out)
    if len(out) != n_expected:
        raise ValueError(
            f"PackBits produced {len(out)} bytes, strip declares {n_expected}"
        )
    return bytes(out)


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (RFC 2083 §6.6)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def png_filter(pix: bytes, width: int, height: int, filter_type: int) -> bytes:
    """Apply one PNG filter to every scanline of an 8-bit plane
    (filter byte + filtered bytes per row)."""
    rows = []
    prev = bytes(width)
    for r in range(height):
        line = pix[r * width : (r + 1) * width]
        if filter_type == 0:
            enc = line
        elif filter_type == 1:  # Sub
            enc = bytes((line[i] - (line[i - 1] if i else 0)) & 0xFF for i in range(width))
        elif filter_type == 2:  # Up
            enc = bytes((line[i] - prev[i]) & 0xFF for i in range(width))
        elif filter_type == 3:  # Average
            enc = bytes(
                (line[i] - (((line[i - 1] if i else 0) + prev[i]) >> 1)) & 0xFF
                for i in range(width)
            )
        elif filter_type == 4:  # Paeth
            enc = bytes(
                (line[i] - _paeth(line[i - 1] if i else 0, prev[i], prev[i - 1] if i else 0))
                & 0xFF
                for i in range(width)
            )
        else:
            raise ValueError(f"unknown PNG filter {filter_type}")
        rows.append(bytes([filter_type]) + enc)
        prev = line
    return b"".join(rows)


def png_unfilter(raw: bytes, width: int, height: int) -> bytes:
    """Reverse the per-scanline PNG filters over a (filter byte +
    row) x height block — all five filter types."""
    if len(raw) != (width + 1) * height:
        raise ValueError("filtered block size != (width+1)*height")
    out = bytearray()
    prev = bytes(width)
    for r in range(height):
        ft = raw[r * (width + 1)]
        line = bytearray(raw[r * (width + 1) + 1 : (r + 1) * (width + 1)])
        if ft == 1:  # Sub
            for i in range(1, width):
                line[i] = (line[i] + line[i - 1]) & 0xFF
        elif ft == 2:  # Up
            for i in range(width):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(width):
                left = line[i - 1] if i else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(width):
                left = line[i - 1] if i else 0
                ul = prev[i - 1] if i else 0
                line[i] = (line[i] + _paeth(left, prev[i], ul)) & 0xFF
        elif ft != 0:
            raise ValueError(f"unknown scanline filter {ft}")
        prev = bytes(line)
        out += line
    return bytes(out)


def canonical_codes(lengths: Sequence[int]) -> list[int]:
    """Canonical prefix code per entry of `lengths` (0 = unused, code
    0): codes of one length are consecutive in list order, and each
    length starts where the previous one ended, shifted left. JPEG
    lists its lengths in HUFFVAL order, WebP/DEFLATE in symbol order."""
    max_len = max(lengths, default=0)
    bl_count = [0] * (max_len + 1)
    for length in lengths:
        if length:
            bl_count[length] += 1
    next_code = [0] * (max_len + 1)
    code = 0
    for b in range(1, max_len + 1):
        code = (code + bl_count[b - 1]) << 1
        next_code[b] = code
    codes = [0] * len(lengths)
    for sym, length in enumerate(lengths):
        if length:
            codes[sym] = next_code[length]
            next_code[length] += 1
    return codes
