"""PDF text extraction — the document container of real LLM corpora.

A text-corpus pipeline's PDF stage does not render pages; it walks
the object graph to content streams, inflates them (FlateDecode is
stdlib zlib), and pulls the text-show operators. Both halves here,
pure stdlib, from the public PDF 1.7 (ISO 32000-1) specification:

Writers (fixture generators, honest enough that the extractor
cannot cheat on framing):
- `encode_simple_pdf`: PDF 1.4 layout — catalog → pages → page(s)
  with one FlateDecode content stream each, literal strings with the
  full escape set (backslash, parens, octal), a classic xref table +
  trailer.
- `encode_pdf_xref_stream`: PDF 1.5 layout — the post-2005 default:
  all non-stream objects packed into a /ObjStm compressed object
  stream, a /Type/XRef cross-reference STREAM (W [1 4 2] fields,
  split /Index subsections, type-2 entries into the ObjStm,
  PNG-Up /Predictor 12 + Flate on the table itself).
- `encode_pdf_incremental`: classic base whose first page is a
  placeholder, then an APPENDED incremental update (the
  save-in-place shape editors emit): replacement content stream +
  a one-entry xref section whose trailer /Prev chains to the base.
  Only an xref-driven reader resolves it correctly — a linear
  object scan sees both the stale and the new stream.

Reader: `extract_pdf_pages` resolves `startxref`, walks the xref
CHAIN (classic tables and xref streams, newest-wins via /Prev),
unpacks /ObjStm object streams (/N, /First, header pairs), follows
trailer /Root → /Pages → /Kids to the page tree IN DOCUMENT ORDER,
fetches each page's /Contents (direct or indirect /Length,
single ref or array), inflates, and tokenizes the content stream
for `Tj`/`TJ` shows with full escape decoding (\\\\, \\(, \\),
\\n, \\r, \\t, \\b, \\f, octal \\ddd, line continuations).
Files with NO xref at all fall back to a salvage object scan
(object order, /XRef and /ObjStm payloads skipped); files WITH an
xref that is corrupt raise ValueError — no silent salvage.

Scope guards (honest): encrypted PDFs, non-Flate stream filters,
and the TIFF predictor raise NotImplementedError. Hex strings
<...> are supported; CID/Type0 composite-font text (ToUnicode
remapping) is out of scope and surfaces as raw bytes, documented.

Spark side: Arrow-batched mapInPandas over _spread, as the whole
codec family. Reference analog: none (kernel.cu reads numeric stdin).
"""

from __future__ import annotations

import binascii
import re
import zlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from meta_iterative_mapreduce_spark.io import load_table
from meta_iterative_mapreduce_spark.operators.codecs import (
    lzw_decode,
    lzw_encode,
    packbits_decode,
    png_filter,
    png_unfilter,
)
from meta_iterative_mapreduce_spark.registry import register


def _escape_pdf_string(s: bytes) -> bytes:
    out = bytearray()
    for b in s:
        if b in (0x5C, 0x28, 0x29):  # \ ( )
            out += b"\\" + bytes([b])
        elif 32 <= b < 127:
            out.append(b)
        else:
            out += f"\\{b:03o}".encode()
    return bytes(out)


def _page_content_flate(text: str) -> bytes:
    """One page's FlateDecode content stream: one Tj per line (plus a
    kerned TJ array show on the first line), T* line advances."""
    content = bytearray(b"BT /F1 11 Tf 36 720 Td 13 TL\n")
    for j, line in enumerate(text.split("\n")):
        raw = line.encode("utf-8")
        esc = _escape_pdf_string(raw)
        if j == 0:
            # TJ array show with a kerning number between halves
            mid = len(raw) // 2
            a = _escape_pdf_string(raw[:mid])
            b_ = _escape_pdf_string(raw[mid:])
            content += b"[(" + a + b") -250 (" + b_ + b")] TJ T*\n"
        else:
            content += b"(" + esc + b") Tj T*\n"
    content += b"ET"
    return zlib.compress(bytes(content))


def encode_simple_pdf(page_texts: list[str]) -> bytes:
    """One-column text PDF, classic PDF 1.4 layout: each entry of
    `page_texts` becomes a page with its own FlateDecode content
    stream; xref table + trailer."""
    return _classic_pdf(
        [(b"/FlateDecode", _page_content_flate(t)) for t in page_texts]
    )


def _classic_pdf(contents: list[tuple[bytes, bytes]]) -> bytes:
    """Classic-layout file: catalog, page tree, font, then per page a
    page dict and its content stream given as (/Filter value, stored
    bytes); xref table + trailer."""
    if not contents:
        raise ValueError("need at least one page")
    objects: list[bytes] = []  # 1-indexed object bodies
    n_pages = len(contents)
    page_obj_ids = [4 + 2 * i for i in range(n_pages)]
    kids = " ".join(f"{i} 0 R" for i in page_obj_ids)
    objects.append(b"<< /Type /Catalog /Pages 2 0 R >>")  # obj 1
    objects.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    )  # obj 2
    objects.append(
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    )  # obj 3
    for i, (filt, stored) in enumerate(contents):
        objects.append(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Resources << /Font << /F1 3 0 R >> >> "
            f"/Contents {page_obj_ids[i] + 1} 0 R >>".encode()
        )
        objects.append(
            f"<< /Length {len(stored)} /Filter ".encode()
            + filt
            + b" >>\nstream\n"
            + stored
            + b"\nendstream"
        )
    out = bytearray(b"%PDF-1.7\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0]  # object 0 is the free head
    for i, body in enumerate(objects, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objects) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objects) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF"
    ).encode()
    return bytes(out)


def encode_pdf_xref_stream(page_texts: list[str]) -> bytes:
    """PDF 1.5 layout — the shape most post-2005 writers emit: the
    catalog/pages/font/page dicts live COMPRESSED inside a /ObjStm
    object stream (xref type-2 entries), content streams stay
    top-level (streams cannot nest in an ObjStm), and the cross
    reference is itself a /Type/XRef STREAM: W [1 4 2] fields, the
    /Index split into two subsections, PNG-Up /Predictor 12 over the
    rows, all Flate-compressed."""
    if not page_texts:
        raise ValueError("need at least one page")
    n = len(page_texts)
    # object plan: 1 catalog, 2 pages, 3 font, 4..3+n page dicts (all
    # in the ObjStm); 4+n..3+2n content streams; 4+2n ObjStm; 5+2n XRef
    content_ids = [4 + n + i for i in range(n)]
    objstm_id = 4 + 2 * n
    xref_id = 5 + 2 * n
    size = xref_id + 1

    out = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    for i, text in enumerate(page_texts):
        flate = _page_content_flate(text)
        offsets[content_ids[i]] = len(out)
        out += (
            f"{content_ids[i]} 0 obj\n<< /Length {len(flate)} "
            "/Filter /FlateDecode >>\nstream\n"
        ).encode() + flate + b"\nendstream\nendobj\n"

    kids = " ".join(f"{4 + i} 0 R" for i in range(n))
    compressed: list[tuple[int, bytes]] = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, f"<< /Type /Pages /Kids [{kids}] /Count {n} >>".encode()),
        (3, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"),
    ]
    for i in range(n):
        compressed.append(
            (
                4 + i,
                (
                    f"<< /Type /Page /Parent 2 0 R "
                    f"/MediaBox [0 0 612 792] "
                    f"/Resources << /Font << /F1 3 0 R >> >> "
                    f"/Contents {content_ids[i]} 0 R >>"
                ).encode(),
            )
        )
    bodies = b""
    header_parts = []
    for num, body in compressed:
        header_parts.append(f"{num} {len(bodies)}")
        bodies += body + b"\n"
    header = (" ".join(header_parts) + "\n").encode()
    stm_payload = zlib.compress(header + bodies)
    offsets[objstm_id] = len(out)
    out += (
        f"{objstm_id} 0 obj\n<< /Type /ObjStm /N {len(compressed)} "
        f"/First {len(header)} /Length {len(stm_payload)} "
        "/Filter /FlateDecode >>\nstream\n"
    ).encode() + stm_payload + b"\nendstream\nendobj\n"

    xref_at = len(out)
    offsets[xref_id] = xref_at
    rows: list[bytes] = []
    for num in range(size):
        if num == 0:
            t, f2, f3 = 0, 0, 0xFFFF
        elif 1 <= num <= 3 + n:
            t, f2, f3 = 2, objstm_id, num - 1  # index in ObjStm
        else:
            t, f2, f3 = 1, offsets[num], 0
        rows.append(
            bytes([t]) + f2.to_bytes(4, "big") + f3.to_bytes(2, "big")
        )
    # PNG-Up per row (/Predictor 12), the layout real writers emit
    table = zlib.compress(png_filter(b"".join(rows), 7, len(rows), 2))
    out += (
        f"{xref_id} 0 obj\n<< /Type /XRef /Size {size} /Root 1 0 R "
        f"/W [1 4 2] /Index [0 4 4 {size - 4}] /Filter /FlateDecode "
        f"/DecodeParms << /Predictor 12 /Columns 7 >> "
        f"/Length {len(table)} >>\nstream\n"
    ).encode() + table + b"\nendstream\nendobj\n"
    out += f"startxref\n{xref_at}\n%%EOF".encode()
    return bytes(out)


def encode_pdf_filter_chain(page_texts: list[str]) -> bytes:
    """Classic-layout PDF whose content streams cycle through the
    non-Flate filters real writers emit (PDF 1.7 §7.4), page i % 4:
    /FlateDecode; /LZWDecode (the TIFF MSB EarlyChange variant);
    [/ASCII85Decode /FlateDecode] (mail-safe armored deflate — the
    array lists DECODE order, so the stored bytes are
    ascii85(flate(content))); [/ASCIIHexDecode /RunLengthDecode]."""
    contents = []
    for i, text in enumerate(page_texts):
        content = zlib.decompress(_page_content_flate(text))
        variant = i % 4
        if variant == 0:
            stored, filt = zlib.compress(content), b"/FlateDecode"
        elif variant == 1:
            stored = lzw_encode(content, 8, msb=True, early_change=True)
            filt = b"/LZWDecode"
        elif variant == 2:
            stored = _ascii85_encode(zlib.compress(content))
            filt = b"[/ASCII85Decode /FlateDecode]"
        else:
            stored = binascii.hexlify(_rle_encode(content)) + b">"
            filt = b"[/ASCIIHexDecode /RunLengthDecode]"
        contents.append((filt, stored))
    return _classic_pdf(contents)


def encode_pdf_incremental(page_texts: list[str]) -> bytes:
    """Classic base file whose FIRST page is a placeholder, plus an
    appended incremental update (the editor save-in-place shape):
    the replacement content stream for page 1 and a one-entry xref
    section whose trailer /Prev points at the base table. A linear
    object scan sees BOTH streams; only resolving the xref chain
    newest-first yields the true document."""
    if not page_texts:
        raise ValueError("need at least one page")
    base = encode_simple_pdf(["@@ STALE PLACEHOLDER @@"] + list(page_texts[1:]))
    prev_at = int(re.search(rb"startxref\s+(\d+)\s*%%EOF$", base).group(1))
    size = int(re.search(rb"/Size (\d+)", base).group(1))
    flate = _page_content_flate(page_texts[0])
    out = bytearray(base) + b"\n"
    obj_at = len(out)
    # obj 5 is page 1's content stream in encode_simple_pdf's plan
    out += (
        f"5 0 obj\n<< /Length {len(flate)} /Filter /FlateDecode >>"
        "\nstream\n"
    ).encode() + flate + b"\nendstream\nendobj\n"
    xref_at = len(out)
    out += (
        f"xref\n5 1\n{obj_at:010d} 00000 n \n"
        f"trailer\n<< /Size {size} /Root 1 0 R /Prev {prev_at} >>\n"
        f"startxref\n{xref_at}\n%%EOF"
    ).encode()
    return bytes(out)


_ESCAPES = {
    0x6E: b"\n", 0x72: b"\r", 0x74: b"\t",
    0x62: b"\x08", 0x66: b"\x0c",
    0x28: b"(", 0x29: b")", 0x5C: b"\\",
}


def _decode_pdf_string(body: bytes) -> bytes:
    """Literal string body (between the balanced parens) → bytes."""
    out = bytearray()
    i = 0
    while i < len(body):
        b = body[i]
        if b != 0x5C:
            out.append(b)
            i += 1
            continue
        if i + 1 >= len(body):
            break
        nxt = body[i + 1]
        if nxt in _ESCAPES:
            out += _ESCAPES[nxt]
            i += 2
        elif 0x30 <= nxt <= 0x37:  # octal, up to 3 digits
            j = i + 1
            oct_digits = b""
            while j < len(body) and len(oct_digits) < 3 and 0x30 <= body[j] <= 0x37:
                oct_digits += bytes([body[j]])
                j += 1
            out.append(int(oct_digits, 8) & 0xFF)
            i = j
        elif nxt in (0x0A, 0x0D):  # line continuation
            i += 2
            if nxt == 0x0D and i < len(body) and body[i] == 0x0A:
                i += 1
        else:  # unknown escape: spec says drop the backslash
            out.append(nxt)
            i += 2
    return bytes(out)


def _iter_literal_strings(content: bytes):
    """Yield (string_bytes, end_pos) for each balanced literal string."""
    i = 0
    n = len(content)
    while i < n:
        if content[i] != 0x28:  # (
            i += 1
            continue
        depth = 1
        j = i + 1
        body = bytearray()
        while j < n and depth:
            b = content[j]
            if b == 0x5C and j + 1 < n:
                body += content[j : j + 2]
                j += 2
                continue
            if b == 0x28:
                depth += 1
            elif b == 0x29:
                depth -= 1
                if depth == 0:
                    break
            body.append(b)
            j += 1
        if depth:
            raise ValueError("unbalanced literal string")
        yield bytes(body), j + 1
        i = j + 1


def _extract_stream_text(content: bytes) -> bytes:
    """Collect the strings shown by Tj / TJ / ' / " operators, in
    order. Strategy: scan literal and hex strings; after each string
    (or TJ array), peek at the next operator token to decide whether
    it is SHOWN text or something else (e.g. a /Name or dict value)."""
    out = bytearray()
    pos = 0
    n = len(content)
    pending: list[bytes] = []  # strings inside a [ ... ] TJ array
    in_array = False
    while pos < n:
        c = content[pos]
        if c == 0x5B:  # [
            in_array = True
            pending = []
            pos += 1
            continue
        if c == 0x5D and in_array:  # ] — expect TJ
            m = re.match(rb"\s*(TJ)", content[pos + 1 :])
            if m:
                out += b"".join(pending)
                pos += 1 + m.end()
            else:
                pos += 1
            in_array = False
            pending = []
            continue
        if c == 0x28:  # literal string
            for s, end in _iter_literal_strings(content[pos:]):
                string = _decode_pdf_string(s)
                pos += end
                break
            if in_array:
                pending.append(string)
                continue
            m = re.match(rb"\s*(Tj|')", content[pos:])
            if m:
                out += string
                pos += m.end()
            continue
        if c == 0x3C and pos + 1 < n and content[pos + 1] != 0x3C:  # <hex>
            close = content.find(b">", pos)
            if close == -1:
                raise ValueError("unterminated hex string")
            hexbody = re.sub(rb"\s", b"", content[pos + 1 : close])
            if len(hexbody) % 2:
                hexbody += b"0"
            string = bytes.fromhex(hexbody.decode("ascii"))
            pos = close + 1
            if in_array:
                pending.append(string)
                continue
            m = re.match(rb"\s*(Tj|')", content[pos:])
            if m:
                out += string
                pos += m.end()
            continue
        if c == 0x54 and pos + 1 < n and content[pos + 1] == 0x2A:  # T*
            out += b"\n"
            pos += 2
            continue
        pos += 1
    return bytes(out)


# --- xref-driven document reader -----------------------------------

_OBJ_HDR = re.compile(rb"\s*(\d+)\s+(\d+)\s+obj\b")
_STREAM_KW = re.compile(rb"\s*stream\r?\n")


def _dict_int(d: bytes, key: bytes) -> int | None:
    """Direct integer value of /key. The digit guard (?!\\d) stops
    backtracking from shrinking the capture so the reference
    lookahead cannot be defeated (e.g. '/Length 12 0 R')."""
    m = re.search(rb"/" + key + rb"\s+(\d+)(?!\d)(?!\s+\d+\s+R)", d)
    return int(m.group(1)) if m else None


def _dict_ref(d: bytes, key: bytes) -> int | None:
    """Object number of an indirect reference /key N G R."""
    m = re.search(rb"/" + key + rb"\s+(\d+)\s+\d+\s+R\b", d)
    return int(m.group(1)) if m else None


def _dict_int_array(d: bytes, key: bytes) -> list[int] | None:
    m = re.search(rb"/" + key + rb"\s*\[([^\]]*)\]", d)
    return [int(x) for x in m.group(1).split()] if m else None


def _balanced_dict(data: bytes, start: int) -> tuple[bytes, int]:
    """data[start:] begins with '<<'; return (inner bytes, position
    after the matching '>>'). Literal strings are skipped balanced."""
    if data[start : start + 2] != b"<<":
        raise ValueError("expected dictionary")
    depth = 0
    i = start
    n = len(data)
    while i < n:
        if data[i : i + 2] == b"<<":
            depth += 1
            i += 2
            continue
        if data[i : i + 2] == b">>":
            depth -= 1
            i += 2
            if depth == 0:
                return data[start + 2 : i - 2], i
            continue
        if data[i] == 0x28:  # ( — skip a balanced literal string
            for _s, end in _iter_literal_strings(data[i:]):
                i += end
                break
            else:
                raise ValueError("unbalanced literal string in dict")
            continue
        i += 1
    raise ValueError("unbalanced dictionary")


# --- stream filters beyond Flate (PDF 1.7 §7.4) ---------------------
# The /Filter value may be a NAME or an ARRAY listing filters in
# DECODE order; real writers chain them (e.g. [/ASCII85Decode
# /FlateDecode] for mail-safe transport of compressed streams).


def _ascii85_decode(data: bytes) -> bytes:
    data = re.sub(rb"\s", b"", data)
    if data.startswith(b"<~"):
        data = data[2:]
    if data.endswith(b"~>"):
        data = data[:-2]
    out = bytearray()
    group: list[int] = []
    for ch in data:
        if ch == 0x7A:  # 'z' = four zero bytes, only between groups
            if group:
                raise ValueError("'z' inside an ASCII85 group")
            out += b"\x00\x00\x00\x00"
            continue
        if not 33 <= ch <= 117:
            raise ValueError(f"byte {ch} outside the ASCII85 alphabet")
        group.append(ch - 33)
        if len(group) == 5:
            n = 0
            for g in group:
                n = n * 85 + g
            if n > 0xFFFFFFFF:
                raise ValueError("ASCII85 group overflows 32 bits")
            out += n.to_bytes(4, "big")
            group = []
    if group:
        if len(group) == 1:
            raise ValueError("ASCII85 final group of one char")
        k = len(group)
        n = 0
        for g in group + [84] * (5 - k):
            n = n * 85 + g
        if n > 0xFFFFFFFF:
            # 'u'-padded partial groups can exceed 32 bits too (e.g.
            # b"uu"): same contract as the full-group check — ValueError,
            # not an OverflowError escaping from to_bytes (ADVICE r8)
            raise ValueError("ASCII85 group overflows 32 bits")
        out += n.to_bytes(4, "big")[: k - 1]
    return bytes(out)


def _ascii85_encode(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 4):
        chunk = data[i : i + 4]
        k = len(chunk)
        n = int.from_bytes(chunk + b"\x00" * (4 - k), "big")
        if k == 4 and n == 0:
            out += b"z"
            continue
        digits = []
        for _ in range(5):
            digits.append(n % 85)
            n //= 85
        out += bytes(dg + 33 for dg in reversed(digits))[: k + 1]
    return bytes(out) + b"~>"


def _asciihex_decode(data: bytes) -> bytes:
    end = data.find(b">")
    if end != -1:
        data = data[:end]
    data = re.sub(rb"\s", b"", data)
    if len(data) % 2:
        data += b"0"  # odd final digit pads with zero per spec
    try:
        return bytes.fromhex(data.decode("ascii"))
    except ValueError as exc:
        raise ValueError(f"bad ASCIIHex stream: {exc}") from exc


def _rle_encode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    while i < len(data):
        j = i
        while (
            j < len(data) - 1 and data[j] == data[j + 1] and j - i < 126
        ):
            j += 1
        if j > i:  # run of length >= 2
            out.append(257 - (j - i + 1))
            out.append(data[i])
            i = j + 1
        else:  # literal stretch up to 128 bytes or next run
            k = i
            while (
                k < len(data)
                and k - i < 128
                and not (k < len(data) - 1 and data[k] == data[k + 1])
            ):
                k += 1
            out.append(k - i - 1)
            out += data[i:k]
            i = k
    out.append(128)
    return bytes(out)


def _filter_names(d: bytes) -> list[bytes]:
    """The /Filter value as an ordered name list (empty = no filter)."""
    m = re.search(rb"/Filter\s*(\[[^\]]*\]|/[A-Za-z0-9]+)", d)
    if not m:
        return []
    return re.findall(rb"/([A-Za-z0-9]+)", m.group(1))


def _decode_stream(d: bytes, raw: bytes) -> bytes:
    """Apply the dict's filter CHAIN in decode order. Supported:
    FlateDecode (+PNG predictor), LZWDecode (+predictor),
    ASCII85Decode, ASCIIHexDecode, RunLengthDecode; anything else
    (DCT, JBIG2, JPX, CCITT, Crypt) raises NotImplementedError."""
    for name in _filter_names(d):
        if name == b"FlateDecode":
            try:
                raw = zlib.decompress(raw)
            except zlib.error as exc:
                raise ValueError(f"bad FlateDecode stream: {exc}") from exc
        elif name == b"LZWDecode":
            raw = lzw_decode(raw, 8, msb=True, early_change=True)
        elif name == b"ASCII85Decode":
            raw = _ascii85_decode(raw)
        elif name == b"ASCIIHexDecode":
            raw = _asciihex_decode(raw)
        elif name == b"RunLengthDecode":
            raw = packbits_decode(raw)
        else:
            raise NotImplementedError(f"stream filter /{name.decode()}")
        if name in (b"FlateDecode", b"LZWDecode"):
            pred = _dict_int(d, b"Predictor")
            if pred is not None and pred >= 10:
                # PNG row filters, 8-bit, one byte per sample (the
                # xref-stream shape)
                rowlen = (_dict_int(d, b"Columns") or 1) + 1
                if len(raw) % rowlen:
                    raise ValueError("predictor data is not whole rows")
                raw = png_unfilter(raw, rowlen - 1, len(raw) // rowlen)
            elif pred is not None and pred != 1:
                raise NotImplementedError(f"predictor {pred} not supported")
    return raw


def _parse_indirect(data: bytes, off: int, length_of=None):
    """Parse the indirect object at byte `off` →
    (dict_bytes|None, raw_stream|None, primitive_bytes|None).
    `length_of(objnum)` resolves an indirect /Length. The raw stream
    is NOT filter-decoded (the caller has the dict)."""
    m = _OBJ_HDR.match(data, off)
    if not m:
        raise ValueError(f"no indirect object at offset {off}")
    p = m.end()
    while p < len(data) and data[p] in b" \t\r\n":
        p += 1
    if data[p : p + 2] == b"<<":
        d, after = _balanced_dict(data, p)
        sm = _STREAM_KW.match(data, after)
        if sm is None:
            return d, None, None
        start = sm.end()
        length = _dict_int(d, b"Length")
        if length is None:
            ref = _dict_ref(d, b"Length")
            if ref is None or length_of is None:
                raise ValueError("stream without resolvable /Length")
            length = length_of(ref)
        end = start + length
        # NEVER rstrip — compressed bytes may legitimately end in EOLs
        if data[end : end + 32].lstrip(b"\r\n")[:9] != b"endstream":
            raise ValueError("stream /Length disagrees with endstream")
        return d, data[start:end], None
    e = data.find(b"endobj", p)
    if e == -1:
        raise ValueError("object without endobj")
    return None, None, data[p:e].strip()


def _parse_classic_xref(data: bytes, off: int, objmap: dict) -> bytes:
    """Classic `xref` table section at `off`; fills objmap with
    setdefault (the caller walks newest-first, so existing entries
    win). Returns the trailer dict bytes."""
    pos = off + 4
    sub = re.compile(rb"\s*(\d+)\s+(\d+)\s*\r?\n")
    while True:
        m = sub.match(data, pos)
        if not m:
            break
        first, count = int(m.group(1)), int(m.group(2))
        pos = m.end()
        for k in range(count):
            row = data[pos : pos + 20]
            if len(row) < 18:
                raise ValueError("truncated xref row")
            if row[17:18] == b"n":
                objmap.setdefault(first + k, ("o", int(row[:10])))
            pos += 20
    m = re.compile(rb"\s*trailer\s*").match(data, pos)
    if not m:
        raise ValueError("classic xref without trailer")
    d, _ = _balanced_dict(data, m.end())
    return d


def _parse_xref_stream(data: bytes, off: int, objmap: dict) -> bytes:
    """/Type/XRef cross-reference STREAM at `off` (PDF 1.5+): W-array
    field widths, /Index subsections, filters incl. PNG predictor.
    Fills objmap with setdefault; returns the stream dict (which IS
    the trailer in 1.5 layouts)."""
    d, raw, _ = _parse_indirect(data, off)  # /Length must be direct
    if d is None or raw is None or b"/XRef" not in d:
        raise ValueError(f"startxref does not point at an xref at {off}")
    w = _dict_int_array(d, b"W")
    size = _dict_int(d, b"Size")
    if w is None or size is None or len(w) < 2:
        raise ValueError("xref stream missing /W or /Size")
    w = (list(w) + [0, 0, 0])[:3]
    index = _dict_int_array(d, b"Index") or [0, size]
    if len(index) % 2:
        raise ValueError("odd /Index array")
    decoded = _decode_stream(d, raw)
    entw = sum(w)
    pos = 0
    for first, count in zip(index[0::2], index[1::2]):
        for k in range(count):
            row = decoded[pos : pos + entw]
            if len(row) < entw:
                raise ValueError("xref stream data truncated")
            o = 0
            f = []
            for width in w:
                f.append(int.from_bytes(row[o : o + width], "big"))
                o += width
            typ = f[0] if w[0] else 1  # default type 1 when W[0]=0
            num = first + k
            if typ == 1:
                objmap.setdefault(num, ("o", f[1]))
            elif typ == 2:
                objmap.setdefault(num, ("c", f[1], f[2]))
            pos += entw
    return d


def _parse_xref_chain(data: bytes) -> tuple[dict, bytes]:
    """Resolve the LAST startxref and walk the /Prev chain newest
    first (incremental updates override older sections via
    setdefault). Returns (objmap, newest trailer dict)."""
    last = None
    for last in re.finditer(rb"startxref\s+(\d+)", data):
        pass
    if last is None:
        raise ValueError("no startxref")
    objmap: dict[int, tuple] = {}
    trailer: bytes | None = None
    off = int(last.group(1))
    seen: set[int] = set()
    while True:
        if off in seen:
            raise ValueError("cycle in xref /Prev chain")
        seen.add(off)
        if off >= len(data):
            raise ValueError(f"xref offset {off} beyond file end")
        if data[off : off + 4] == b"xref":
            d = _parse_classic_xref(data, off, objmap)
        else:
            d = _parse_xref_stream(data, off, objmap)
        if trailer is None:
            trailer = d
        prev = _dict_int(d, b"Prev")
        if prev is None:
            return objmap, trailer
        off = prev


def _fetch(data: bytes, objmap: dict, num: int, cache: dict):
    """Load object `num` via the xref map (top-level or inside an
    ObjStm) → (dict|None, raw_stream|None, primitive|None)."""
    if num in cache:
        return cache[num]
    loc = objmap.get(num)
    if loc is None:
        raise ValueError(f"object {num} missing from xref")
    if loc[0] == "o":

        def length_of(ref: int) -> int:
            _, _, prim = _fetch(data, objmap, ref, cache)
            if prim is None or not prim.isdigit():
                raise ValueError(f"indirect /Length {ref} is not an integer")
            return int(prim)

        res = _parse_indirect(data, loc[1], length_of)
    else:
        _, stmnum, idx = loc
        bodies = _objstm_bodies(data, objmap, stmnum, cache)
        if idx >= len(bodies):
            raise ValueError(f"ObjStm {stmnum} has no index {idx}")
        body = bodies[idx]
        if body.startswith(b"<<"):
            d, _ = _balanced_dict(body, 0)
            res = (d, None, None)
        else:
            res = (None, None, body)
    cache[num] = res
    return res


def _objstm_bodies(
    data: bytes, objmap: dict, stmnum: int, cache: dict
) -> list[bytes]:
    """Unpack a /ObjStm compressed object stream: /N pair header at
    the front, bodies at /First + per-object offset."""
    key = ("stm", stmnum)
    if key in cache:
        return cache[key]
    loc = objmap.get(stmnum)
    if loc is None or loc[0] != "o":
        raise ValueError(f"ObjStm {stmnum} missing or itself compressed")
    d, raw, _ = _parse_indirect(data, loc[1])
    if d is None or raw is None or b"/ObjStm" not in d:
        raise ValueError(f"object {stmnum} is not an ObjStm")
    payload = _decode_stream(d, raw)
    n = _dict_int(d, b"N")
    first = _dict_int(d, b"First")
    if n is None or first is None or first > len(payload):
        raise ValueError("ObjStm missing /N or /First")
    header = payload[:first].split()
    if len(header) < 2 * n:
        raise ValueError("ObjStm header shorter than /N pairs")
    pairs = [
        (int(header[2 * i]), int(header[2 * i + 1])) for i in range(n)
    ]
    bodies: list[bytes] = []
    for i, (_onum, ooff) in enumerate(pairs):
        start = first + ooff
        end = first + pairs[i + 1][1] if i + 1 < n else len(payload)
        if start > len(payload):
            raise ValueError("ObjStm offset beyond payload")
        bodies.append(payload[start:end].strip())
    cache[key] = bodies
    return bodies


def _content_refs(page_dict: bytes) -> list[int]:
    m = re.search(rb"/Contents\s+(\d+)\s+\d+\s+R", page_dict)
    if m:
        return [int(m.group(1))]
    m = re.search(rb"/Contents\s*\[([^\]]*)\]", page_dict)
    if m:
        return [int(x) for x in re.findall(rb"(\d+)\s+\d+\s+R", m.group(1))]
    return []


def _walk_pages(data: bytes, objmap: dict, trailer: bytes) -> list[bytes]:
    """Trailer /Root → catalog /Pages → /Kids tree in DOCUMENT order;
    one extracted-text entry per page (multiple /Contents streams of
    a page concatenate)."""
    cache: dict = {}
    root = _dict_ref(trailer, b"Root")
    if root is None:
        raise ValueError("trailer without /Root")
    cat, _, _ = _fetch(data, objmap, root, cache)
    if cat is None:
        raise ValueError("/Root is not a dictionary")
    pages_num = _dict_ref(cat, b"Pages")
    if pages_num is None:
        raise ValueError("catalog without /Pages")
    out: list[bytes] = []
    stack = [pages_num]
    visited: set[int] = set()
    while stack:
        num = stack.pop(0)
        if num in visited:
            raise ValueError("cycle in page tree")
        visited.add(num)
        d, _, _ = _fetch(data, objmap, num, cache)
        if d is None:
            raise ValueError(f"page tree node {num} is not a dictionary")
        if re.search(rb"/Type\s*/Pages\b", d):
            kids = re.search(rb"/Kids\s*\[([^\]]*)\]", d)
            if kids is None:
                raise ValueError(f"Pages node {num} without /Kids")
            refs = [
                int(x) for x in re.findall(rb"(\d+)\s+\d+\s+R", kids.group(1))
            ]
            stack = refs + stack
        elif re.search(rb"/Type\s*/Page\b", d):
            parts = []
            for cref in _content_refs(d):
                cd, craw, _ = _fetch(data, objmap, cref, cache)
                if cd is None or craw is None:
                    raise ValueError(f"/Contents {cref} is not a stream")
                parts.append(_extract_stream_text(_decode_stream(cd, craw)))
            out.append(b"".join(parts))
        else:
            raise ValueError(f"unknown page tree node type in object {num}")
    return out


def _scan_pages(data: bytes) -> list[bytes]:
    """Salvage path for files with NO xref at all: linear scan for
    stream objects in byte order. /XRef and /ObjStm payloads are
    structural, not content — skipped."""
    pages: list[bytes] = []
    for m in re.finditer(rb"<<(.{0,512}?)>>\s*stream\r?\n", data, re.S):
        d = m.group(1)
        if b"/XRef" in d or b"/ObjStm" in d:
            continue
        start = m.end()
        length = _dict_int(d, b"Length")
        if length is not None:  # direct /Length: slice exactly
            end = start + length
            if data[end : end + 32].lstrip(b"\r\n")[:9] != b"endstream":
                raise ValueError("stream /Length disagrees with endstream")
            raw = data[start:end]
        else:  # indirect /Length: scan, strip at most ONE EOL
            end = data.find(b"endstream", start)
            if end == -1:
                raise ValueError("stream without endstream")
            raw = data[start:end]
            if raw.endswith(b"\r\n"):
                raw = raw[:-2]
            elif raw.endswith((b"\n", b"\r")):
                raw = raw[:-1]
        pages.append(_extract_stream_text(_decode_stream(d, raw)))
    return pages


def extract_pdf_text(payload: bytes) -> str:
    """Concatenated shown text of every page, pages joined by form
    feed. NOTE: shown text may itself contain form feeds (\\f is a
    legal PDF string escape); use `extract_pdf_pages` when page
    boundaries must survive arbitrary content."""
    return "\x0c".join(extract_pdf_pages(payload))


def extract_pdf_pages(payload: bytes) -> list[str]:
    """Shown text, one entry per page. Files with an xref (classic
    table or 1.5+ xref stream, /Prev chains, ObjStm-compressed
    objects) are walked in document order; xref-less fragments fall
    back to a byte-order object scan. See module docstring."""
    data = bytes(payload)
    if not data.startswith(b"%PDF-"):
        raise ValueError("bad PDF header")
    if b"/Encrypt" in data:
        raise NotImplementedError("encrypted PDFs not supported")
    # strict-xref vs salvage is decided by startxref in the TAIL only
    # (the spec places it in the last line before %%EOF): an xref-less
    # fragment whose compressed stream bytes happen to contain
    # 'startxref' must salvage, not raise (ADVICE r8 — same
    # false-positive class as an /Encrypt substring sniff)
    if b"startxref" in data[-2048:]:
        objmap, trailer = _parse_xref_chain(data)
        pages = _walk_pages(data, objmap, trailer)
    else:
        pages = _scan_pages(data)
    return [p.decode("utf-8", errors="replace") for p in pages]


@register(
    "q_text_pdf_extract",
    oracle="""
    SELECT doc_id,
           MD5(text) AS text_md5,
           OCTET_LENGTH(ENCODE(text)) AS n_bytes
    FROM documents
    WHERE octet_length(encode(text)) = length(text)
      AND length(text) >= 1
    """,
)
def q_text_pdf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF → text, byte-exact, over FOUR rotating file layouts
    (doc_id % 4): classic PDF 1.4 xref table, PDF 1.5 xref STREAM +
    ObjStm compressed objects (the post-2005 writer default), an
    incrementally-updated file whose stale placeholder page is only
    resolved away by walking the /Prev xref chain newest-first, and
    a classic file whose content streams cycle the non-Flate filter
    chains (LZWDecode, [ASCII85 Flate], [ASCIIHex RunLength]). The
    extractor must recover the EXACT original text — md5-compared
    against the source by the oracle. Pages split on line boundaries
    every 40 lines; T* line advances reconstruct the newlines, so
    framing errors anywhere in writer or extractor break the hash."""
    from meta_iterative_mapreduce_spark.operators.multimodal import _spread

    d = load_table(spark, sf_dir, "documents").filter(
        (F.length(F.encode("text", "UTF-8")) == F.length("text"))
        & (F.length("text") >= 1)
    )
    src = _spread(d.select("doc_id", "text"), spark)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf_batch in batches:
            ids, md5s, nb = [], [], []
            for doc_id, text in zip(pdf_batch["doc_id"], pdf_batch["text"]):
                lines = text.split("\n")
                page_texts = [
                    "\n".join(lines[i : i + 40])
                    for i in range(0, len(lines), 40)
                ] or [""]
                writer = (
                    encode_simple_pdf,
                    encode_pdf_xref_stream,
                    encode_pdf_incremental,
                    encode_pdf_filter_chain,
                )[doc_id % 4]
                pdf = writer(page_texts)
                # page list, not the \x0c join — shown text may
                # itself contain form feeds
                back = extract_pdf_pages(pdf)
                # T* emits a trailing newline per line incl. the last;
                # pages re-join on the 40-line boundaries
                got_pages = [
                    p[:-1] if p.endswith("\n") else p for p in back
                ]
                got = "\n".join(got_pages)
                if got != text:
                    raise ValueError(
                        f"PDF round trip altered doc {doc_id}"
                    )
                ids.append(doc_id)
                md5s.append(hashlib.md5(text.encode("utf-8")).hexdigest())
                nb.append(len(text.encode("utf-8")))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "text_md5": pd.Series(md5s, dtype="object"),
                    "n_bytes": pd.Series(nb, dtype="int64"),
                }
            )

    return src.mapInPandas(
        op, schema="doc_id long, text_md5 string, n_bytes long"
    )
