"""PDF writer/extractor spec-level guarantees: escape set, balanced
parens, kerned TJ arrays, hex strings, Flate framing by /Length,
honest guards."""

from __future__ import annotations

import re
import zlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from meta_iterative_mapreduce_spark.operators.pdf import (
    _decode_pdf_string,
    _escape_pdf_string,
    encode_simple_pdf,
    extract_pdf_pages,
    extract_pdf_text,
)


def _round_trip(text: str) -> str:
    lines = text.split("\n")
    pages = ["\n".join(lines[i : i + 40]) for i in range(0, len(lines), 40)]
    back = extract_pdf_pages(encode_simple_pdf(pages or [""]))
    return "\n".join(p[:-1] if p.endswith("\n") else p for p in back)


def test_escapes_and_parens_round_trip():
    t = "a(b)c\\d\n(((nested? not shown)))\nends with backslash \\"
    assert _round_trip(t) == t


def test_nonascii_octal_escapes():
    t = "héllo — ß π\ntab\there"
    assert _round_trip(t) == t


@given(
    text=st.text(
        alphabet=st.sampled_from(list("ab()\\\n\t 01Zé")), max_size=400
    )
)
@settings(max_examples=120, deadline=None)
def test_pdf_round_trip_property(text):
    assert _round_trip(text) == text


@given(data=st.binary(max_size=200))
@settings(max_examples=100, deadline=None)
def test_string_escape_round_trip_property(data):
    assert _decode_pdf_string(_escape_pdf_string(data)) == data


def test_hex_strings_extracted():
    # hand-build a content stream using a hex show
    content = b"BT <48656c6c6f> Tj ET"
    flate = zlib.compress(content)
    pdf = (
        b"%PDF-1.7\n1 0 obj\n<< /Length "
        + str(len(flate)).encode()
        + b" /Filter /FlateDecode >>\nstream\n"
        + flate
        + b"\nendstream\nendobj\n%%EOF"
    )
    assert extract_pdf_text(pdf) == "Hello"


def test_non_shown_strings_ignored():
    # a string followed by a non-show operator must not leak into text
    content = b"BT (shown) Tj (annotation-not-shown) Tz ET"
    flate = zlib.compress(content)
    pdf = (
        b"%PDF-1.7\n1 0 obj\n<< /Length "
        + str(len(flate)).encode()
        + b" /Filter /FlateDecode >>\nstream\n"
        + flate
        + b"\nendstream\nendobj\n%%EOF"
    )
    assert extract_pdf_text(pdf) == "shown"


def test_flate_bytes_ending_in_newline_not_truncated():
    # direct /Length framing must NOT rstrip the compressed bytes —
    # synthesize a stream whose deflate output ends with 0x0a
    for filler in range(2000):
        content = b"BT (" + bytes([65 + filler % 26]) * (filler % 97) + b") Tj ET"
        flate = zlib.compress(content)
        if flate.endswith((b"\n", b"\r")):
            break
    else:
        pytest.skip("no newline-tailed deflate found")
    pdf = (
        b"%PDF-1.7\n1 0 obj\n<< /Length "
        + str(len(flate)).encode()
        + b" /Filter /FlateDecode >>\nstream\n"
        + flate
        + b"\nendstream\nendobj\n%%EOF"
    )
    assert extract_pdf_text(pdf)  # decodes, no truncation error


def test_guards():
    with pytest.raises(ValueError):
        extract_pdf_text(b"not a pdf")
    pdf = encode_simple_pdf(["x"])
    with pytest.raises(NotImplementedError, match="encrypted"):
        extract_pdf_text(pdf + b"/Encrypt")
    bad = re.sub(rb"endstream", b"endstrXam", pdf)
    with pytest.raises(ValueError):
        extract_pdf_text(bad)


def test_xref_table_is_valid():
    """The writer's xref offsets must actually point at 'N 0 obj'."""
    pdf = encode_simple_pdf(["hello\nworld", "page 2"])
    m = re.search(rb"xref\n0 (\d+)\n", pdf)
    n = int(m.group(1))
    table = pdf[m.end() :]
    rows = [table[i * 20 : (i + 1) * 20] for i in range(n)]
    for i, row in enumerate(rows[1:], start=1):
        off = int(row[:10])
        assert pdf[off:].startswith(f"{i} 0 obj".encode())


def test_indirect_length_multidigit_object_number():
    """'/Length 12 0 R' must take the indirect-length branch: the
    negative lookahead needs a digit guard or backtracking shrinks
    the capture to '1' and the lookahead spuriously passes."""
    content = b"BT (indirect) Tj ET"
    flate = zlib.compress(content)
    pdf = (
        b"%PDF-1.7\n1 0 obj\n<< /Length 12 0 R /Filter /FlateDecode "
        b">>\nstream\n" + flate + b"\nendstream\nendobj\n"
        b"12 0 obj\n" + str(len(flate)).encode() + b"\nendobj\n%%EOF"
    )
    assert extract_pdf_text(pdf) == "indirect"


def test_form_feed_in_document_text_keeps_page_boundaries():
    """A document containing \\f must round-trip: pages are returned
    as a list, not re-split on the join character."""
    text = "before\x0cafter\nsecond line"
    assert _round_trip(text) == text


def test_extract_pdf_pages_returns_one_entry_per_stream():
    from meta_iterative_mapreduce_spark.operators.pdf import (
        extract_pdf_pages,
    )

    pages = extract_pdf_pages(encode_simple_pdf(["a", "b", "c"]))
    assert len(pages) == 3
    assert [p.rstrip("\n") for p in pages] == ["a", "b", "c"]


# --- PDF 1.5 xref streams / ObjStm / incremental updates ------------

from meta_iterative_mapreduce_spark.operators.codecs import (  # noqa: E402
    lzw_decode,
    lzw_encode,
    packbits_decode,
    png_filter,
)
from meta_iterative_mapreduce_spark.operators.pdf import (  # noqa: E402
    _decode_stream,
    _parse_xref_chain,
    encode_pdf_incremental,
    encode_pdf_xref_stream,
)


def _rt(enc, text):
    lines = text.split("\n")
    pages = ["\n".join(lines[i : i + 40]) for i in range(0, len(lines), 40)]
    back = extract_pdf_pages(enc(pages or [""]))
    return "\n".join(p[:-1] if p.endswith("\n") else p for p in back)


def test_xref_stream_layout_round_trip():
    text = "alpha\nbeta (x) \\ y\ngamma\x0cdelta"
    assert _rt(encode_pdf_xref_stream, text) == text


def test_incremental_update_round_trip_and_newest_wins():
    text = "REAL first page\nsecond line"
    pdf = encode_pdf_incremental([text, "page 2"])
    # the stale placeholder is physically present in the file...
    import zlib as _z

    # (the TJ kerning split halves the line, so search a short piece)
    assert any(
        b"STALE" in _z.decompress(m) for m in _iter_flate_streams(pdf)
    )
    # ...but the xref chain resolves only the replacement
    pages = extract_pdf_pages(pdf)
    assert pages[0].rstrip("\n") == text
    assert "PLACEHOLDER" not in "".join(pages)


def _iter_flate_streams(pdf: bytes):
    import re as _re
    import zlib as _z

    for m in _re.finditer(rb"stream\r?\n", pdf):
        start = m.end()
        end = pdf.find(b"endstream", start)
        raw = pdf[start:end]
        for cut in (raw, raw.rstrip(b"\r\n")):
            try:
                _z.decompress(cut)
                yield cut
                break
            except _z.error:
                continue


@given(st.text(alphabet=st.characters(codec="utf-8"), max_size=400))
@settings(max_examples=40, deadline=None)
def test_xref_stream_round_trip_property(text):
    assert _rt(encode_pdf_xref_stream, text) == text


@given(st.text(alphabet=st.characters(codec="utf-8"), max_size=400))
@settings(max_examples=25, deadline=None)
def test_incremental_round_trip_property(text):
    assert _rt(encode_pdf_incremental, text) == text


def _unpredict(data: bytes, cols: int) -> bytes:
    """Undo /Predictor 12 through the stream-filter chain."""
    import zlib as _z

    d = (
        b"/Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns "
        + str(cols).encode()
        + b" >>"
    )
    return _decode_stream(d, _z.compress(data))


def test_png_predictor_all_filters():
    cols = 5
    rows = [bytes([(r * 7 + c * 13) % 256 for c in range(cols)]) for r in range(6)]
    flat = b"".join(rows)
    # Up-filter encode (what the writer emits) must invert exactly
    assert _unpredict(png_filter(flat, cols, len(rows), 2), cols) == flat
    # hand-encode one row per filter type and invert
    prev = bytes(cols)
    enc = bytearray()
    for ft, row in zip([0, 1, 2, 3, 4, 2], rows):
        out = bytearray(row)
        if ft == 1:
            for i in range(cols - 1, 0, -1):
                out[i] = (out[i] - row[i - 1]) & 0xFF
        elif ft == 2:
            for i in range(cols):
                out[i] = (out[i] - prev[i]) & 0xFF
        elif ft == 3:
            for i in range(cols):
                left = row[i - 1] if i else 0
                out[i] = (out[i] - (left + prev[i]) // 2) & 0xFF
        elif ft == 4:
            for i in range(cols):
                a = row[i - 1] if i else 0
                b = prev[i]
                c = prev[i - 1] if i else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                out[i] = (out[i] - pr) & 0xFF
        enc += bytes([ft]) + out
        prev = row
    assert _unpredict(bytes(enc), cols) == flat
    with pytest.raises(ValueError, match="filter"):
        _unpredict(bytes([9]) + bytes(cols), cols)
    with pytest.raises(ValueError, match="whole rows"):
        _unpredict(b"\x00\x01", cols)


def test_xref_chain_maps_compressed_and_toplevel_objects():
    pdf = encode_pdf_xref_stream(["a", "b"])
    objmap, trailer = _parse_xref_chain(pdf)
    # catalog/pages/font/page dicts are type-2 (in the ObjStm)
    assert objmap[1][0] == "c" and objmap[4][0] == "c"
    # content streams, ObjStm, XRef itself are type-1 offsets
    kinds = {k: v[0] for k, v in objmap.items()}
    assert kinds[6] == "o" and kinds[8] == "o" and kinds[9] == "o"
    assert b"/Root" in trailer


def test_corrupt_xref_stream_is_loud_not_salvaged():
    pdf = bytearray(encode_pdf_xref_stream(["hello"]))
    # point startxref past EOF
    at = pdf.rfind(b"startxref")
    bad = pdf[:at] + b"startxref\n999999\n%%EOF"
    with pytest.raises(ValueError):
        extract_pdf_pages(bytes(bad))


def test_prev_cycle_detected():
    base = encode_simple_pdf(["x"])
    xref_at = int(re.search(rb"startxref\s+(\d+)", base).group(1))
    size = int(re.search(rb"/Size (\d+)", base).group(1))
    # append an update whose trailer /Prev points at ITSELF
    out = bytearray(base) + b"\n"
    loop_at = len(out)
    out += (
        f"xref\n0 0\ntrailer\n<< /Size {size} /Root 1 0 R "
        f"/Prev {loop_at} >>\nstartxref\n{loop_at}\n%%EOF"
    ).encode()
    with pytest.raises(ValueError, match="cycle"):
        extract_pdf_pages(bytes(out))
    assert xref_at > 0


def test_contents_array_supported():
    """A page whose /Contents is an ARRAY of streams concatenates
    them into one page."""
    import zlib as _z

    c1 = _z.compress(b"BT (first) Tj ET")
    c2 = _z.compress(b"BT ( and second) Tj ET")
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents [4 0 R 5 0 R] >>",
        (b"<< /Length " + str(len(c1)).encode() + b" /Filter /FlateDecode >>\nstream\n" + c1 + b"\nendstream"),
        (b"<< /Length " + str(len(c2)).encode() + b" /Filter /FlateDecode >>\nstream\n" + c2 + b"\nendstream"),
    ]
    out = bytearray(b"%PDF-1.4\n")
    offs = [0]
    for i, body in enumerate(objs, start=1):
        offs.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode() + b"0000000000 65535 f \n"
    for off in offs[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF"
    ).encode()
    assert extract_pdf_pages(bytes(out)) == ["first and second"]


# --- stream filter chains (PDF 1.7 §7.4) -----------------------------

from meta_iterative_mapreduce_spark.operators.pdf import (  # noqa: E402
    _ascii85_decode,
    _ascii85_encode,
    _asciihex_decode,
    _rle_encode,
    encode_pdf_filter_chain,
)


def test_filter_chain_layout_round_trip():
    texts = ["flate page", "lzw page", "a85+flate page", "hex+rle page",
             "flate again"]
    pages = extract_pdf_pages(encode_pdf_filter_chain(texts))
    assert [p[:-1] if p.endswith("\n") else p for p in pages] == texts


@given(st.binary(max_size=600))
@settings(max_examples=80, deadline=None)
def test_ascii85_round_trip_property(blob):
    assert _ascii85_decode(_ascii85_encode(blob)) == blob


@given(st.binary(max_size=600))
@settings(max_examples=80, deadline=None)
def test_runlength_round_trip_property(blob):
    assert packbits_decode(_rle_encode(blob)) == blob


@given(st.binary(max_size=600))
@settings(max_examples=40, deadline=None)
def test_pdf_lzw_round_trip_property(blob):
    pdf_lzw = {"msb": True, "early_change": True}
    assert lzw_decode(lzw_encode(blob, 8, **pdf_lzw), 8, **pdf_lzw) == blob


def test_filter_codec_edges_and_guards():
    # ASCII85 specials: 'z' zero group, <~ ~> delimiters, whitespace
    assert _ascii85_decode(b"z~>") == b"\x00\x00\x00\x00"
    assert _ascii85_decode(b"<~ z ~>") == b"\x00\x00\x00\x00"
    with pytest.raises(ValueError, match="alphabet"):
        _ascii85_decode(b"\x00\x00")
    with pytest.raises(ValueError, match="one char"):
        _ascii85_decode(b"a")
    with pytest.raises(ValueError, match="'z' inside"):
        _ascii85_decode(b"az~>")
    # ASCIIHex: EOD marker, whitespace, odd-digit zero pad
    assert _asciihex_decode(b"48 65\n6C>garbage-after-eod") == b"Hel"
    assert _asciihex_decode(b"4") == b"@"
    with pytest.raises(ValueError):
        _asciihex_decode(b"4G>")
    # RunLength: truncations and missing EOD are loud
    with pytest.raises(ValueError, match="EOD"):
        packbits_decode(b"\x02abc")
    with pytest.raises(ValueError, match="truncated"):
        packbits_decode(b"\x05ab")
    with pytest.raises(ValueError, match="truncated"):
        packbits_decode(b"\xfe")
    # unsupported filter stays an honest guard
    import zlib as _z

    content = _z.compress(b"BT (x) Tj ET")
    pdf = (
        b"%PDF-1.7\n1 0 obj\n<< /Length "
        + str(len(content)).encode()
        + b" /Filter /DCTDecode >>\nstream\n"
        + content
        + b"\nendstream\nendobj\n%%EOF"
    )
    with pytest.raises(NotImplementedError, match="DCTDecode"):
        extract_pdf_text(pdf)


def test_filter_array_decode_order():
    """[/ASCII85Decode /FlateDecode] means ascii85 FIRST, then
    inflate — the array is decode order, a classic direction trap."""
    import zlib as _z

    content = b"BT (ordered) Tj ET"
    stored = _ascii85_encode(_z.compress(content))
    pdf = (
        b"%PDF-1.7\n1 0 obj\n<< /Length "
        + str(len(stored)).encode()
        + b" /Filter [/ASCII85Decode /FlateDecode] >>\nstream\n"
        + stored
        + b"\nendstream\nendobj\n%%EOF"
    )
    assert extract_pdf_text(pdf) == "ordered"


@given(st.text(alphabet=st.characters(codec="utf-8"), max_size=400))
@settings(max_examples=25, deadline=None)
def test_filter_chain_round_trip_property(text):
    assert _rt(encode_pdf_filter_chain, text) == text


def test_ascii85_partial_group_overflow_is_valueerror():
    """ADVICE r9: a 'u'-padded FINAL partial group can exceed 32 bits
    (b'uu' pads to base-85 digits 84,84,84,84,84 > 2^32) — must raise
    the documented ValueError like the full-group path, not leak an
    OverflowError from int.to_bytes."""
    with pytest.raises(ValueError, match="overflows"):
        _ascii85_decode(b"uu")
    with pytest.raises(ValueError, match="overflows"):
        _ascii85_decode(b"uuuu~>")


def test_startxref_sniff_reads_tail_only():
    """ADVICE r9: strict-xref vs salvage mode keys on startxref in the
    file TAIL (where the spec puts it), so an xref-less fragment whose
    body bytes happen to contain 'startxref' still salvages instead of
    failing the xref walk."""
    from meta_iterative_mapreduce_spark.operators.pdf import (
        encode_simple_pdf,
        extract_pdf_pages,
    )

    full = encode_simple_pdf(["tail sniff page"])
    frag = (
        full[: full.index(b"xref")]
        + b"% stream junk: startxref 12345\n"
        + b"%" + b"x" * 3000 + b"\n"
    )
    assert b"startxref" in frag and b"startxref" not in frag[-2048:]
    pages = extract_pdf_pages(frag)
    assert len(pages) == 1 and "tail sniff page" in pages[0]
    # and a REAL file keeps the strict path: the same writer's intact
    # output still parses via its tail startxref
    assert extract_pdf_pages(full) == pages
