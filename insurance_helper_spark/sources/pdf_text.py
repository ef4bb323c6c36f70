"""Minimal pure-stdlib PDF text extraction.

The reference declares Stage-2 "PDF text extraction" (README.md:79-83)
but never implements it; this module makes the engine's
``pdf_text_extract`` boundary REAL for the common case — PDFs whose
page content streams are uncompressed or FlateDecode (zlib) — with no
external libraries (pypdf/pdfminer are not in this container).

Scope (documented, tested):
- supported: literal ``(...)`` and hex ``<...>`` strings shown via the
  ``Tj``, ``'``, ``"`` and ``TJ`` text operators inside any
  decodable content stream; PDF string escapes (\\n, \\t, \\(, \\ooo,
  line continuations); text-positioning operators (``Td``, ``TD``,
  ``T*``, ``ET``) become newlines; page count from ``/Type /Page``
  objects.
- best-effort, not a renderer: simple-font bytes are decoded latin-1
  (the PDF StandardEncoding superset for the printable range);
  composite-font CID strings (Identity-H etc.) have no CMap here and
  will produce mojibake — the extractor does NOT guess.
- unsupported filters (DCT, LZW, crypt) are skipped stream-by-stream;
  a PDF where NO stream decodes and no text is found raises
  ``PdfExtractError`` so the caller's F3 contract can turn it into an
  error ROW.

This is a per-row function used INSIDE the mapInPandas scan pass
(sources/binary.py) — blobs never shuffle; only extracted text flows
downstream.
"""

from __future__ import annotations

import re
import zlib

__all__ = ["PdfExtractError", "extract_pdf_text"]


class PdfExtractError(ValueError):
    """Raised when a blob claims to be a PDF but yields no text."""


_STREAM_RE = re.compile(rb"stream\r?\n", re.S)
_PAGE_RE = re.compile(rb"/Type\s*/Page(?![a-zA-Z])")
# page-tree root: /Type /Pages ... /Count N (authoritative page count —
# the per-page regex can false-match '/Type /Page' bytes inside
# compressed stream bodies)
_PAGES_COUNT_RE = re.compile(
    rb"/Type\s*/Pages\b[^>]*?/Count\s+(\d+)|/Count\s+(\d+)[^>]*?/Type\s*/Pages\b",
    re.S,
)
_FLATE_RE = re.compile(rb"/(?:Filter\s*/FlateDecode|FlateDecode)")
_FILTER_RE = re.compile(rb"/Filter\s*(?:/(\w+)|\[([^\]]*)\])")

_ESCAPES = {
    ord("n"): "\n",
    ord("r"): "\r",
    ord("t"): "\t",
    ord("b"): "\b",
    ord("f"): "\f",
    ord("("): "(",
    ord(")"): ")",
    ord("\\"): "\\",
}


def _literal_string(data: bytes, i: int) -> tuple[str, int]:
    """Parse a PDF literal string starting at the ``(`` at ``data[i]``.
    Returns (decoded text, index just past the closing paren). Handles
    nesting, backslash escapes, octal codes, and escaped newlines."""
    out: list[str] = []
    depth = 1
    i += 1
    n = len(data)
    while i < n and depth:
        c = data[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            e = data[i]
            if e in _ESCAPES:
                out.append(_ESCAPES[e])
                i += 1
            elif 0x30 <= e <= 0x37:  # \ooo octal, 1-3 digits
                j = i
                while j < n and j - i < 3 and 0x30 <= data[j] <= 0x37:
                    j += 1
                out.append(chr(int(data[i:j], 8) & 0xFF))
                i = j
            elif e in (0x0A, 0x0D):  # line continuation
                i += 1
                if e == 0x0D and i < n and data[i] == 0x0A:
                    i += 1
            else:  # unknown escape: the char stands for itself
                out.append(chr(e))
                i += 1
        elif c == 0x28:  # (
            depth += 1
            out.append("(")
            i += 1
        elif c == 0x29:  # )
            depth -= 1
            if depth:
                out.append(")")
            i += 1
        else:
            out.append(chr(c))
            i += 1
    return "".join(out), i


def _hex_string(data: bytes, i: int) -> tuple[str, int]:
    """Parse ``<hex>`` starting at the ``<`` at ``data[i]``."""
    j = data.find(b">", i + 1)
    if j < 0:
        return "", len(data)
    digits = re.sub(rb"[^0-9A-Fa-f]", b"", data[i + 1 : j])
    if len(digits) % 2:
        digits += b"0"  # spec: odd count implies trailing 0
    return bytes.fromhex(digits.decode("ascii")).decode("latin-1"), j + 1


def _stream_text(content: bytes) -> str:
    """Extract shown text from one decoded content stream."""
    out: list[str] = []
    pending: list[str] = []  # strings seen since the last operator
    i, n = 0, len(content)
    while i < n:
        c = content[i]
        if c == 0x28:  # ( literal string
            s, i = _literal_string(content, i)
            pending.append(s)
        elif c == 0x3C:  # < hex string (<< dict start is skipped)
            if i + 1 < n and content[i + 1] == 0x3C:
                i += 2
            else:
                s, i = _hex_string(content, i)
                pending.append(s)
        elif c == 0x25:  # % comment to end of line
            j = content.find(b"\n", i)
            i = n if j < 0 else j + 1
        elif (
            0x41 <= c <= 0x5A or 0x61 <= c <= 0x7A or c in (0x27, 0x22, 0x2A)
        ):  # operator token
            j = i
            while j < n and content[j] not in b" \t\r\n()<>[]{}/%":
                j += 1
            op = content[i:j]
            if op in (b"Tj", b"TJ", b"'", b'"'):
                if op in (b"'", b'"') and out and not out[-1].endswith("\n"):
                    out.append("\n")  # ' and " are T* + show: break BEFORE
                out.extend(pending)
            elif op in (b"Td", b"TD", b"T*", b"ET"):
                if out and not out[-1].endswith("\n"):
                    out.append("\n")
            pending = []
            i = j if j > i else i + 1
        else:
            i += 1
    return "".join(out)


def _decode_stream(raw: bytes, header: bytes) -> bytes | None:
    """Decode one stream body given its object dictionary header.
    Returns None when the filter chain is unsupported."""
    m = _FILTER_RE.search(header)
    if m is None:
        return raw  # no filter
    names = (m.group(1) or m.group(2) or b"").decode("latin-1")
    filters = re.findall(r"/?(\w+)", names)
    data = raw
    for f in filters:
        if f in ("FlateDecode", "Fl"):
            try:
                data = zlib.decompress(data)
            except zlib.error:
                try:  # some writers omit/garble the 2-byte zlib header
                    data = zlib.decompress(data, -15)
                except zlib.error:
                    return None
        else:
            return None  # DCT/LZW/ASCII85/crypt… out of scope
    return data


def _stream_bodies(raw: bytes) -> list[bytes]:
    """Candidate stream bodies for the bytes between 'stream' and one
    'endstream': ``raw`` less the single end-of-line marker (CRLF, LF or
    CR) the PDF syntax puts before 'endstream'. Only that marker is
    stripped — a Flate body may itself end in 0x0A or 0x0D. When the
    marker reads as CRLF, the body may instead end in CR with an LF
    marker, so that split is the second candidate."""
    if raw.endswith(b"\r\n"):
        return [raw[:-2], raw[:-1]]
    if raw.endswith((b"\n", b"\r")):
        return [raw[:-1]]
    return [raw]


def extract_pdf_text(content: bytes) -> tuple[str, int]:
    """Best-effort text + page count from a PDF blob. Raises
    ``PdfExtractError`` when nothing decodable carries text."""
    if content[:4] != b"%PDF":
        raise PdfExtractError("not a PDF (missing %PDF header)")
    # Prefer the /Count of the page-tree ROOT: exact even when stream
    # bodies happen to contain '/Type /Page' bytes (ADVICE r9). In a
    # multi-node page tree every intermediate /Pages node carries the
    # /Count of ITS subtree, and the first match in byte order need not
    # be the root — the root's /Count is the total, hence >= every
    # subtree's, so take the MAX across all /Type /Pages matches
    # (ADVICE r10). Fall back to the per-page regex census for
    # root-less/fragmented files.
    counts = [int(g1 or g2) for g1, g2 in _PAGES_COUNT_RE.findall(content)]
    if counts:
        n_pages = max(counts) or 1
    else:
        n_pages = len(_PAGE_RE.findall(content)) or 1
    texts: list[str] = []
    decoded_any = False
    for m in _STREAM_RE.finditer(content):
        start = m.end()
        # the object dict sits between the previous 'obj' and 'stream'
        hdr_start = content.rfind(b"obj", 0, m.start())
        header = content[hdr_start if hdr_start >= 0 else 0 : m.start()]
        # A Flate body may contain the literal bytes 'endstream'; if
        # decoding fails on the first delimiter, retry with each later
        # occurrence before giving up on the stream (ADVICE r9).
        data = None
        end = content.find(b"endstream", start)
        while data is None and end >= 0:
            for body in _stream_bodies(content[start:end]):
                data = _decode_stream(body, header)
                if data is not None:
                    break
            end = content.find(b"endstream", end + 1)
        if data is None:
            continue
        decoded_any = True
        if b"Tj" in data or b"TJ" in data or b"'" in data or b'"' in data:
            t = _stream_text(data)
            if t.strip():
                texts.append(t)
    if not texts:
        raise PdfExtractError(
            "no extractable text: "
            + ("no text operators in decodable streams" if decoded_any
               else "no decodable content streams (unsupported filters?)")
        )
    return "\n".join(texts), n_pages
