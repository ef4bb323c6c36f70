"""Unit tests for the pure-stdlib PDF text extractor
(sources/pdf_text.py): text operators, string escapes, FlateDecode,
page counting, and the documented failure modes."""

from __future__ import annotations

import zlib

import pytest

from insurance_helper_spark.sources.pdf_text import (
    PdfExtractError,
    extract_pdf_text,
)


def mini_pdf(streams: list[bytes], n_pages: int = 1, compress: bool = False,
             filter_name: bytes | None = None) -> bytes:
    """Build a minimal PDF: %PDF header, n_pages /Type /Page objects,
    one stream object per entry. Structurally simple but uses the real
    syntax the extractor parses (obj dict header, stream/endstream,
    /Filter)."""
    parts = [b"%PDF-1.4\n"]
    for k in range(n_pages):
        parts.append(b"%d 0 obj\n<< /Type /Page /Parent 2 0 R >>\nendobj\n" % (k + 10))
    parts.append(b"2 0 obj\n<< /Type /Pages /Count %d >>\nendobj\n" % n_pages)
    for i, s in enumerate(streams):
        body = zlib.compress(s) if compress else s
        filt = filter_name or (b"/Filter /FlateDecode " if compress else b"")
        parts.append(
            b"%d 0 obj\n<< %s/Length %d >>\nstream\n" % (i + 100, filt, len(body))
            + body
            + b"\nendstream\nendobj\n"
        )
    parts.append(b"%%EOF\n")
    return b"".join(parts)


def test_basic_tj():
    pdf = mini_pdf([b"BT /F1 12 Tf 72 700 Td (Hello World) Tj ET"])
    text, n_pages = extract_pdf_text(pdf)
    assert text.strip() == "Hello World"
    assert n_pages == 1


def test_page_count_excludes_pages_node():
    pdf = mini_pdf([b"(x) Tj"], n_pages=4)
    _, n_pages = extract_pdf_text(pdf)
    assert n_pages == 4  # /Type /Pages (the tree node) must not count


def test_flate_stream():
    pdf = mini_pdf([b"BT (compressed text) Tj ET"], compress=True)
    text, _ = extract_pdf_text(pdf)
    assert text.strip() == "compressed text"


def test_tj_array_and_positioning_newlines():
    content = b"BT (line one) Tj T* [(fu) -250 (sed)] TJ 0 -14 Td (line three) Tj ET"
    text, _ = extract_pdf_text(mini_pdf([content]))
    assert text.splitlines() == ["line one", "fused", "line three"]


def test_string_escapes_and_nesting():
    content = rb"BT (paren \(nested\) \\ tab\there \101\102\103 and (balanced)) Tj ET"
    text, _ = extract_pdf_text(mini_pdf([content]))
    assert text.strip() == "paren (nested) \\ tab\there ABC and (balanced)"


def test_hex_string_and_quote_operators():
    content = b"BT <48656C6C6F> Tj (next line) ' ET"
    text, _ = extract_pdf_text(mini_pdf([content]))
    assert text.splitlines() == ["Hello", "next line"]


def test_multiple_streams_joined():
    pdf = mini_pdf([b"(page one) Tj", b"(page two) Tj"], n_pages=2, compress=True)
    text, n_pages = extract_pdf_text(pdf)
    assert text.splitlines() == ["page one", "page two"]
    assert n_pages == 2


def test_unsupported_filter_skipped_then_error():
    pdf = mini_pdf([b"\xff\xd8\xff jpeg bytes"], filter_name=b"/Filter /DCTDecode ")
    with pytest.raises(PdfExtractError, match="no decodable content streams"):
        extract_pdf_text(pdf)


def test_decodable_but_textless_error():
    pdf = mini_pdf([b"0 0 100 100 re f"])  # a drawing, no text ops
    with pytest.raises(PdfExtractError, match="no text operators"):
        extract_pdf_text(pdf)


def test_not_a_pdf():
    with pytest.raises(PdfExtractError, match="missing %PDF header"):
        extract_pdf_text(b"plain text")


def test_mixed_supported_and_unsupported_streams():
    """One DCT (skipped) + one Flate text stream → best-effort text."""
    dct = mini_pdf([b"binary"], filter_name=b"/Filter /DCTDecode ")
    # append a decodable stream to the same document
    extra = mini_pdf([b"(salvaged) Tj"], compress=True)
    pdf = dct.replace(b"%%EOF\n", b"") + extra[len(b"%PDF-1.4\n"):]
    text, _ = extract_pdf_text(pdf)
    assert "salvaged" in text


def test_corrupt_flate_is_skipped():
    pdf = mini_pdf([b"garbage-not-zlib"], filter_name=b"/Filter /FlateDecode ")
    with pytest.raises(PdfExtractError):
        extract_pdf_text(pdf)


def test_flate_body_containing_literal_endstream():
    """zlib level 0 emits stored blocks, so the compressed body contains
    the raw text verbatim — including the bytes 'endstream'. The first
    delimiter candidate truncates the deflate stream; the extractor must
    retry with the next occurrence instead of dropping the stream."""
    content = b"BT (before endstream marker) Tj (after) Tj ET"
    body = zlib.compress(content, 0)
    assert b"endstream" in body  # the trap this test exists for
    pdf = b"".join(
        [
            b"%PDF-1.4\n",
            b"10 0 obj\n<< /Type /Page /Parent 2 0 R >>\nendobj\n",
            b"2 0 obj\n<< /Type /Pages /Count 1 >>\nendobj\n",
            b"100 0 obj\n<< /Filter /FlateDecode /Length %d >>\nstream\n" % len(body),
            body,
            b"\nendstream\nendobj\n%%EOF\n",
        ]
    )
    text, n_pages = extract_pdf_text(pdf)
    assert text.strip() == "before endstream markerafter"
    assert n_pages == 1


def test_page_count_from_pages_root_ignores_stream_bytes():
    """A stored-block Flate body carrying the literal bytes
    '/Type /Page' must not inflate the page count: the /Count of the
    /Type /Pages root is authoritative."""
    content = b"BT (looks like /Type /Page inside a stream) Tj ET"
    body = zlib.compress(content, 0)
    assert b"/Type /Page" in body
    pdf = b"".join(
        [
            b"%PDF-1.4\n",
            b"10 0 obj\n<< /Type /Page /Parent 2 0 R >>\nendobj\n",
            b"11 0 obj\n<< /Type /Page /Parent 2 0 R >>\nendobj\n",
            b"2 0 obj\n<< /Type /Pages /Count 2 >>\nendobj\n",
            b"100 0 obj\n<< /Filter /FlateDecode /Length %d >>\nstream\n" % len(body),
            body,
            b"\nendstream\nendobj\n%%EOF\n",
        ]
    )
    _, n_pages = extract_pdf_text(pdf)
    assert n_pages == 2


def test_page_count_regex_fallback_without_pages_root():
    pdf = mini_pdf([b"(x) Tj"], n_pages=3).replace(
        b"2 0 obj\n<< /Type /Pages /Count 3 >>\nendobj\n", b""
    )
    assert b"/Count" not in pdf
    _, n_pages = extract_pdf_text(pdf)
    assert n_pages == 3  # per-page census still works root-less


def _flate_body_ending_in(last: int) -> tuple[bytes, bytes]:
    """(content, zlib body) whose compressed body's last byte is
    ``last``. That byte is the low byte of the Adler-32 sum A of the
    content, so it depends on the content alone, not on the zlib build."""
    for i in range(20000):
        content = b"BT (stream body %d) Tj ET" % i
        body = zlib.compress(content)
        if body[-1] == last:
            return content, body
    raise AssertionError("no content found")


@pytest.mark.parametrize("eol", [b"\n", b"\r\n", b"\r"])
@pytest.mark.parametrize("last", [0x0A, 0x0D])
def test_flate_body_ending_in_eol_byte(last, eol):
    """Only the one end-of-line marker before 'endstream' is stripped:
    a Flate body whose own last byte is LF or CR must still inflate,
    whichever marker the writer used."""
    content, body = _flate_body_ending_in(last)
    pdf = b"".join(
        [
            b"%PDF-1.4\n",
            b"10 0 obj\n<< /Type /Page /Parent 2 0 R >>\nendobj\n",
            b"2 0 obj\n<< /Type /Pages /Count 1 >>\nendobj\n",
            b"100 0 obj\n<< /Filter /FlateDecode /Length %d >>\nstream\n" % len(body),
            body,
            eol + b"endstream\nendobj\n%%EOF\n",
        ]
    )
    text, _ = extract_pdf_text(pdf)
    assert text.strip() == content[4:-7].decode()
