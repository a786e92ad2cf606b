"""PDF/layout parse tests (the north_rule's non-HTML extraction leg).

The reference has no PDF path at all (its content_extractor rejects
non-HTML content types), so the contract here is self-defined and
pinned two ways: a writer↔reader roundtrip invariant (extracted text
equals the source up to whitespace normalization) and hand-built
torture documents exercising the parser's structural fallbacks.
"""

import datetime
import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from readability_scanner_spark.extraction.pdf import (
    PdfParseError,
    extract_pdf,
    extract_pdf_text,
    is_pdf,
    make_pdf,
    parse_pdf_date,
)
from readability_scanner_spark.functions.udfs import extract_one


def norm(s: str) -> str:
    return re.sub(r"\s+", " ", s).strip()


# ---------------------------------------------------------------------------
# writer ↔ reader roundtrip
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "text",
    [
        "Hello world.",
        "One line that is deliberately longer than the wrap width so the "
        "writer must break it over several physical lines in the page.",
        "First paragraph.\nSecond line.\n\nSecond paragraph after a blank.",
        r"parens (nested (deep)) and \backslash\ and ) stray close",
        "word " * 500,  # multi-page
        "",
        "   ",
        "Ünïcödé latin-1: café naïve résumé ±°",
    ],
)
def test_roundtrip_normalized_equality(text):
    assert norm(extract_pdf_text(make_pdf(text))) == norm(text)


def test_roundtrip_uncompressed_streams():
    text = "Uncompressed stream body, parsed with no stream filter."
    raw = make_pdf(text, compress=False)
    assert b"FlateDecode" not in raw
    assert norm(extract_pdf_text(raw)) == norm(text)


def test_multipage_order_and_count():
    text = "\n".join(f"line {i} of the longer document" for i in range(100))
    result = extract_pdf(make_pdf(text, lines_per_page=10))
    assert result.n_pages == 10
    assert norm(result.text) == norm(text)
    # page order is page-tree order, not object-scan luck
    assert result.text.index("line 0 ") < result.text.index("line 99 ")


def test_metadata_title_and_creation_date():
    raw = make_pdf(
        "body", title="Quarterly Report", creation_date="D:20240301120000+02'00"
    )
    result = extract_pdf(raw)
    assert result.title == "Quarterly Report"
    assert result.created_ts == datetime.datetime(
        2024, 3, 1, 10, 0, 0, tzinfo=datetime.timezone.utc
    )


@given(
    st.text(
        alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E),
        max_size=400,
    )
)
@settings(max_examples=60, deadline=None)
def test_roundtrip_property_printable_ascii(text):
    """The oracle query's exact contract: any printable-ASCII payload
    survives write→parse with only whitespace-run differences."""
    assert norm(extract_pdf_text(make_pdf(text))) == norm(text)


# ---------------------------------------------------------------------------
# parser robustness (hand-built torture documents)
# ---------------------------------------------------------------------------


def _hand_pdf(content: bytes, *, length: int | None = None, filters: bytes = b"") -> bytes:
    n = len(content) if length is None else length
    head = b"/Length " + str(n).encode() + (b" /Filter " + filters if filters else b"")
    return (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n"
        b"4 0 obj << " + head + b" >>\nstream\n"
        + content
        + b"\nendstream endobj\n"
        b"trailer << /Size 5 /Root 1 0 R >>\n"
    )


def test_broken_xref_falls_back_to_object_scan():
    raw = bytearray(make_pdf("survives a corrupt xref table"))
    i = raw.find(b"xref")
    for j in range(i, len(raw)):
        if 0x30 <= raw[j] <= 0x39:
            raw[j] = 0x39  # every offset becomes garbage
    assert extract_pdf_text(bytes(raw)) == "survives a corrupt xref table"


def test_wrong_stream_length_recovers_via_endstream():
    content = b"BT /F1 12 Tf 1 0 0 1 72 720 Tm (stale length) Tj ET"
    raw = _hand_pdf(content, length=7)  # stale /Length from an edit
    assert extract_pdf_text(raw) == "stale length"


def test_tj_array_kerning_and_hex_strings():
    content = (
        b"BT /F1 12 Tf 14 TL 1 0 0 1 72 720 Tm\n"
        b"[ (Hel) -50 (lo) -300 (world) ] TJ T*\n"
        b"<48657820737472696E67> Tj T*\nET"
    )
    # small kern joins, word-space kern becomes a space, hex decodes
    assert extract_pdf_text(_hand_pdf(content)) == "Hello world\nHex string"


def test_layout_order_beats_stream_order():
    content = (
        b"BT /F1 12 Tf "
        b"1 0 0 1 72 100 Tm (bottom line) Tj "
        b"1 0 0 1 72 700 Tm (top) Tj "
        b"1 0 0 1 120 700 Tm (right of top) Tj ET"
    )
    assert extract_pdf_text(_hand_pdf(content)) == "top right of top\nbottom line"


def test_escapes_octal_utf16_and_string_operator_collisions():
    content = (
        b"BT /F1 12 Tf 14 TL 1 0 0 1 72 720 Tm\n"
        b"(octal \\101\\102 tab\\there) Tj T*\n"
        b"(\xfe\xff\x00U\x00T\x00F) Tj T*\n"
        b"(looks like ops: << [ Tj BT >>) Tj T*\nET"
    )
    text = extract_pdf_text(_hand_pdf(content))
    lines = text.split("\n")
    assert lines[0] == "octal AB tab\there"
    assert lines[1] == "UTF"
    assert lines[2] == "looks like ops: << [ Tj BT >>"


def test_asciihex_filtered_stream():
    inner = b"BT /F1 12 Tf 1 0 0 1 72 720 Tm (hex filtered) Tj ET"
    encoded = inner.hex().encode() + b">"
    raw = (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n"
        b"4 0 obj << /Length " + str(len(encoded)).encode()
        + b" /Filter /ASCIIHexDecode >>\nstream\n" + encoded
        + b"\nendstream endobj\n"
        b"trailer << /Size 5 /Root 1 0 R >>\n"
    )
    assert extract_pdf_text(raw) == "hex filtered"


def test_null_inside_arrays_does_not_truncate():
    """`null` is a legal array member (/Kids [.. null ..], TJ arrays);
    it must parse as a value, not read as end-of-input."""
    content = b"BT /F1 12 Tf 1 0 0 1 72 720 Tm [ (Hello) -250 null (World) ] TJ ET"
    assert extract_pdf_text(_hand_pdf(content)) == "Hello World"


def test_inline_image_binary_is_skipped():
    """BI..ID <binary> EI: a 0x28 '(' byte inside the image data must
    not open a string that swallows the rest of the page."""
    content = (
        b"BT /F1 12 Tf 14 TL 1 0 0 1 72 720 Tm (before) Tj T* ET\n"
        b"BI /W 2 /H 2 /BPC 8 /CS /RGB ID \x28\x00\xff\x29\x01\x02\x03\x04\x05\x06\x07\x08 EI\n"
        b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (after) Tj ET"
    )
    assert extract_pdf_text(_hand_pdf(content)) == "before\nafter"


def test_stale_length_trailing_eol_byte_preserved():
    """Recovery from a wrong /Length must strip only the single EOL
    before `endstream` — Flate data legitimately ends in 0x0A/0x0D
    about 1/8 of the time (last adler32 byte)."""
    import zlib

    inner = b"BT /F1 12 Tf 1 0 0 1 72 720 Tm (tail byte safe) Tj ET"
    # brute-force a payload whose compressed form ends in \n
    for pad in range(256):
        padded = inner + b" % " + bytes([32 + pad % 90]) * (pad // 90 + 1)
        flate = zlib.compress(padded, 9)
        if flate.endswith((b"\n", b"\r")):
            break
    else:
        pytest.skip("no padding produced a trailing-EOL deflate byte")
    raw = (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n"
        b"4 0 obj << /Length 7 /Filter /FlateDecode >>\nstream\n"  # stale length
        + flate
        + b"\nendstream endobj\n"
        b"trailer << /Size 5 /Root 1 0 R >>\n"
    )
    assert extract_pdf_text(raw) == "tail byte safe"


def test_winansi_high_punctuation_decodes():
    content = b"BT /F1 12 Tf 1 0 0 1 72 720 Tm (dash \x97 quote \x93q\x94) Tj ET"
    assert extract_pdf_text(_hand_pdf(content)) == "dash — quote “q”"


@pytest.mark.parametrize(
    "bad",
    [b"", b"not a pdf at all", b"%PDF-1.4 header but nothing else"],
)
def test_unusable_inputs_raise(bad):
    with pytest.raises(PdfParseError):
        extract_pdf(bad)


def test_truncated_pdf_raises_not_crashes():
    raw = make_pdf("some document " * 50)
    for cut in (10, len(raw) // 3, len(raw) - 40):
        try:
            extract_pdf(raw[:cut])  # either parses a prefix or raises cleanly
        except PdfParseError:
            pass


def test_is_pdf_sniff():
    assert is_pdf(b"%PDF-1.7\n...")
    assert is_pdf("  \n%PDF-1.4")
    assert not is_pdf("<html>%PDF- later is not a header</html>")
    assert not is_pdf(None)
    assert not is_pdf("")


@pytest.mark.parametrize(
    "raw,expected",
    [
        ("D:20240301120000Z", datetime.datetime(2024, 3, 1, 12, 0, 0)),
        ("D:20240301120000+02'00", datetime.datetime(2024, 3, 1, 10, 0, 0)),
        ("D:20240301120000-0430", datetime.datetime(2024, 3, 1, 16, 30, 0)),
        ("D:2024", datetime.datetime(2024, 1, 1, 0, 0, 0)),
        ("garbage", None),
        ("", None),
    ],
)
def test_parse_pdf_date(raw, expected):
    got = parse_pdf_date(raw)
    if expected is None:
        assert got is None
    else:
        assert got == expected.replace(tzinfo=datetime.timezone.utc)


# ---------------------------------------------------------------------------
# pipeline dispatch
# ---------------------------------------------------------------------------


def test_extract_one_dispatches_pdf():
    payload = make_pdf(
        "A PDF document. It has sentences and words.",
        title="T",
        creation_date="D:20240101090000Z",
    ).decode("latin-1")
    content, text, title, image, ts, spans, failed, ratio = extract_one(payload)
    assert not failed
    assert text == "A PDF document. It has sentences and words."
    assert content == "<div><p>A PDF document. It has sentences and words.</p></div>"
    assert title == "T"
    assert ts == datetime.datetime(2024, 1, 1, 9, 0, 0)
    assert image is None and spans == []
    assert 0.0 < ratio < 1.0


def test_extract_one_pdf_garbage_is_parse_failed_not_fatal():
    _c, _t, _ti, _i, _ts, _s, failed, _r = extract_one("%PDF-1.4 then junk")
    assert failed


def test_pipeline_mixed_html_and_pdf_turns(spark):
    """End-to-end: a transcript mixing HTML and PDF payloads flows
    through the fused extract+stats UDF; each leg extracts its text."""
    from readability_scanner_spark.plans.pipeline import extract_and_score

    html = (
        "<html><body><article><p>"
        + "Readable web content sentence here. " * 15
        + "</p></article></body></html>"
    )
    pdf = make_pdf("Portable document text. " * 20).decode("latin-1")
    rows = [
        ("c1", 0, "user", html, "", datetime.datetime(2024, 1, 1)),
        ("c1", 1, "assistant", pdf, "", datetime.datetime(2024, 1, 1, 0, 1)),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    out = {r["turn_idx"]: r for r in extract_and_score(df).collect()}
    assert not out[0]["parse_failed"] and not out[1]["parse_failed"]
    assert "Readable web content" in out[0]["cleaned_data"]
    assert norm(out[1]["cleaned_data"]) == norm("Portable document text. " * 20)
    assert out[1]["words"] == 60


def test_generator_pdf_rate_corpus_extracts_clean(spark):
    """Opt-in pdf_rate: the same pipeline handles a mixed HTML/PDF
    corpus with zero parse failures; pdf_rate=0.0 (the default) must
    reproduce the historical all-HTML corpus bit-for-bit."""
    from pyspark.sql import functions as F

    from readability_scanner_spark.plans.pipeline import extract_and_score
    from readability_scanner_spark.sources.transcripts import transcripts_df

    mixed = transcripts_df(spark, 10, seed=7, pdf_rate=0.3)
    n_pdf = mixed.where(F.col("text").startswith("%PDF-")).count()
    assert n_pdf > 0
    out = extract_and_score(mixed, repartition_to=8).cache()
    try:
        assert out.where(F.col("parse_failed")).count() < out.count() * 0.2
        # every PDF turn extracted: non-empty text, no parse failure
        joined = out.join(
            mixed.where(F.col("text").startswith("%PDF-")).select("conv_id", "turn_idx"),
            ["conv_id", "turn_idx"],
        )
        assert joined.count() == n_pdf
        assert joined.where(F.col("parse_failed")).count() == 0
        assert joined.where(F.length("cleaned_data") > 0).count() == n_pdf
    finally:
        out.unpersist()
    # default corpus unchanged by the new parameter
    a = transcripts_df(spark, 3, seed=7).orderBy("conv_id", "turn_idx").collect()
    b = transcripts_df(spark, 3, seed=7, pdf_rate=0.0).orderBy("conv_id", "turn_idx").collect()
    assert a == b


def test_objstm_and_xref_stream_document():
    """PDF 1.5+ shape: catalog/pages/page live inside a compressed
    /ObjStm, no `trailer` keyword — /Root and /Info come from the
    /Type /XRef stream dict. The Info title is only reachable through
    that path."""
    import zlib

    inner_objs = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        (3, b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>"),
        (7, b"<< /Title (From ObjStm Info) >>"),
    ]
    offsets, payload = [], b""
    for num, body in inner_objs:
        offsets.append((num, len(payload)))
        payload += body + b" "
    header = b" ".join(b"%d %d" % p for p in offsets) + b" "
    stm_data = zlib.compress(header + payload, 9)

    content = b"BT /F1 12 Tf 1 0 0 1 72 720 Tm (objstm text) Tj ET"
    raw = (
        b"%PDF-1.5\n"
        b"4 0 obj << /Type /ObjStm /N 4 /First " + str(len(header)).encode()
        + b" /Length " + str(len(stm_data)).encode()
        + b" /Filter /FlateDecode >>\nstream\n" + stm_data + b"\nendstream endobj\n"
        b"5 0 obj << /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream endobj\n"
        b"6 0 obj << /Type /XRef /Size 8 /Root 1 0 R /Info 7 0 R /Length 0 >>\n"
        b"stream\n\nendstream endobj\n"
    )
    result = extract_pdf(raw)
    assert result.text == "objstm text"
    assert result.title == "From ObjStm Info"


def test_objstm_incremental_update_newest_wins():
    """Two ObjStms both define object 7 (/Info); the LATER one in the
    file is the incremental update and must win — first-in-file-wins
    would resurrect the stale title."""
    import zlib

    def objstm(num, inner):
        offsets, payload = [], b""
        for onum, body in inner:
            offsets.append((onum, len(payload)))
            payload += body + b" "
        header = b" ".join(b"%d %d" % p for p in offsets) + b" "
        data = zlib.compress(header + payload, 9)
        return (
            b"%d 0 obj << /Type /ObjStm /N %d /First %d /Length %d /Filter /FlateDecode >>\nstream\n"
            % (num, len(inner), len(header), len(data))
            + data
            + b"\nendstream endobj\n"
        )

    content = b"BT /F1 12 Tf 1 0 0 1 72 720 Tm (body) Tj ET"
    raw = (
        b"%PDF-1.5\n"
        + objstm(4, [(1, b"<< /Type /Catalog /Pages 2 0 R >>"),
                     (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
                     (3, b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>"),
                     (7, b"<< /Title (Stale Title) >>")])
        + b"5 0 obj << /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream endobj\n"
        + objstm(8, [(7, b"<< /Title (Updated Title) >>")])
        + b"6 0 obj << /Type /XRef /Size 9 /Root 1 0 R /Info 7 0 R /Length 0 >>\nstream\n\nendstream endobj\n"
    )
    result = extract_pdf(raw)
    assert result.text == "body"
    assert result.title == "Updated Title"


def test_xref_stream_incremental_update_wins_by_position():
    """Two /Type /XRef dicts: the appended (later-in-file) one must
    supply /Info even though its OBJECT NUMBER is lower — recency is
    file position, never object number."""
    content = b"BT /F1 12 Tf 1 0 0 1 72 720 Tm (xref body) Tj ET"
    raw = (
        b"%PDF-1.5\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 5 0 R >> endobj\n"
        b"5 0 obj << /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream endobj\n"
        b"7 0 obj << /Title (Old Title) >> endobj\n"
        b"9 0 obj << /Type /XRef /Size 10 /Root 1 0 R /Info 7 0 R /Length 0 >>\nstream\n\nendstream endobj\n"
        b"11 0 obj << /Title (New Title) >> endobj\n"
        b"6 0 obj << /Type /XRef /Size 12 /Root 1 0 R /Info 11 0 R /Length 0 >>\nstream\n\nendstream endobj\n"
    )
    result = extract_pdf(raw)
    assert result.text == "xref body"
    assert result.title == "New Title"


def test_ascii85_and_runlength_filters():
    """New r4 filters (ISO 32000-1 §7.4.3/§7.4.5): known-answer vectors
    + malformed-input None (which _apply_filters maps to empty text)."""
    import base64

    from readability_scanner_spark.extraction.pdf import (
        _apply_filters,
        _ascii85_decode,
        _runlength_decode,
    )

    # cross-check ascii85 against the stdlib encoder (Adobe variant)
    for payload in (b"hello world", b"\x00\x00\x00\x00spam", b"a", b"ab", bytes(range(256))):
        enc = base64.a85encode(payload) + b"~>"
        assert _ascii85_decode(enc, 1024) == payload
    assert _ascii85_decode(b"z~>", 1024) == b"\x00\x00\x00\x00"
    assert _ascii85_decode(b"!!z~>", 1024) is None  # z inside a group
    assert _ascii85_decode(b"\x7f\x7f\x7f\x7f\x7f~>", 1024) is None  # out of range
    assert _ascii85_decode(b"!~>", 1024) is None  # 1-char group is illegal
    # runlength: literal run + repeat run + EOD
    rl = bytes([2]) + b"abc" + bytes([257 - 4]) + b"x" + bytes([128])
    assert _runlength_decode(rl, 1024) == b"abcxxxx"
    assert _runlength_decode(bytes([5]) + b"ab", 1024) is None  # truncated literal
    assert _runlength_decode(bytes([200]), 1024) is None  # truncated repeat
    # both stop once past their limit: 'z' and a repeat run expand 4x/128x
    assert len(_ascii85_decode(b"z" * 1000 + b"~>", 10)) == 12
    assert len(_runlength_decode(bytes([129, 0]) * 1000, 10)) == 128
    # end to end through the filter chain (chained with AHx): the
    # budget left is charged for every stage's output
    a85 = base64.a85encode(b"chained payload") + b"~>"
    hexed = a85.hex().encode() + b">"
    assert _apply_filters(hexed, ["ASCIIHexDecode", "ASCII85Decode"], 1024) == (
        b"chained payload", 1024 - len(a85) - len(b"chained payload")
    )
    assert _apply_filters(hexed, ["ASCIIHexDecode", "ASCII85Decode"], 30) == (b"", 0)
    assert _apply_filters(b"garbage", ["DCTDecode"], 1024) == (b"", 1024)


def test_decompression_bombs_fail_within_the_decode_budget():
    """A content stream that inflates to 64 MiB, directly or through a
    chained /Filter [/FlateDecode /FlateDecode], ends parse_failed fast
    and never holds much more than PDF_DECODE_MAX_BYTES decoded."""
    import time
    import tracemalloc
    import zlib

    from readability_scanner_spark.extraction.pdf import PDF_DECODE_MAX_BYTES

    co = zlib.compressobj(9)
    bomb = b"".join([co.compress(bytes(1 << 20)) for _ in range(64)] + [co.flush()])
    cases = [
        (bomb, b"/FlateDecode"),
        (zlib.compress(bomb, 9), b"[/FlateDecode /FlateDecode]"),
    ]
    for stream, filters in cases:
        payload = _hand_pdf(stream, filters=filters).decode("latin-1")
        tracemalloc.start()
        t0 = time.perf_counter()
        try:
            failed = extract_one(payload)[6]
            elapsed = time.perf_counter() - t0
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        assert failed, filters
        assert elapsed < 2.0, (filters, elapsed)
        assert peak < 2 * PDF_DECODE_MAX_BYTES, (filters, peak)


def test_ascii85_whitespace_split_eod_and_leader():
    """Writers may line-wrap between '~' and '>' (whitespace is
    ignorable anywhere); the Adobe '<~' leader may follow whitespace."""
    import base64

    from readability_scanner_spark.extraction.pdf import _ascii85_decode

    assert _ascii85_decode(base64.a85encode(b"wrapped") + b"~\r\n>", 1024) == b"wrapped"
    assert _ascii85_decode(b"\n<~" + base64.a85encode(b"led") + b"~>", 1024) == b"led"
