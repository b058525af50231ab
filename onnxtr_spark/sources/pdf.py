"""PDF text extraction (S1 + the north-rule's "PDF/layout parse").

The reference rasterizes PDFs with pypdfium2 (io/pdf.py:16-43) and
re-enters the image pipeline; that library is absent here, and at
10^12 docs the cheaper primitive for born-digital PDFs is direct
content-stream text extraction. This module implements a real, minimal
PDF 1.4 parser for that path:

- ``encode_pdf``: build a valid PDF (catalog → pages tree → one page +
  FlateDecode content stream per input text, xref table, trailer). Any
  standard reader opens these files. ``encode_pdf_pages`` encodes a
  word list with one PDF page per corpus page (``corpus.pages``).
- ``decode_pdf_texts``: scan ``stream``/``endstream`` segments,
  zlib-inflate when compressed, and evaluate the text-showing operators
  ``(…) Tj`` and ``[(…) … (…)] TJ`` in order, unescaping PDF string
  escapes (backslash specials + octal).

The Spark surface is Arrow-batched ``mapInPandas`` over a binary
column (same shape as the media decode stages); the query oracle is a
roundtrip — page text equals the document's word-chunk — so the whole
synthesize→parse chain is verified bit-for-bit.
"""

from __future__ import annotations

import re
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from onnxtr_spark.corpus import WORDS_PER_PAGE, pages
from onnxtr_spark.partitioning import spread

_ESC = {"n": "\n", "r": "\r", "t": "\t", "b": "\b", "f": "\f", "(": "(", ")": ")", "\\": "\\"}


def _escape_pdf_string(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _unescape_pdf_string(s: str) -> str:
    out: list[str] = []
    i = 0
    while i < len(s):
        ch = s[i]
        if ch != "\\":
            out.append(ch)
            i += 1
            continue
        i += 1
        if i >= len(s):
            break
        nxt = s[i]
        if nxt in _ESC:
            out.append(_ESC[nxt])
            i += 1
        elif nxt.isdigit():  # octal \d{1,3}
            j = i
            while j < len(s) and j - i < 3 and s[j].isdigit():
                j += 1
            out.append(chr(int(s[i:j], 8)))
            i = j
        else:  # unknown escape: PDF drops the backslash
            out.append(nxt)
            i += 1
    return "".join(out)


def _content_stream(text: str) -> bytes:
    """One page's content: a Tj for short text, a split TJ array for
    longer text (both showing operators exercised)."""
    if len(text) > 40:
        mid = len(text) // 2
        body = f"BT /F1 12 Tf 72 720 Td [({_escape_pdf_string(text[:mid])}) -10 ({_escape_pdf_string(text[mid:])})] TJ ET"
    else:
        body = f"BT /F1 12 Tf 72 720 Td ({_escape_pdf_string(text)}) Tj ET"
    return zlib.compress(body.encode("latin-1"), 6)


def encode_pdf(pages_text: list[str]) -> bytes:
    """Build a valid minimal PDF with one page per text."""
    return _assemble_pdf([_content_stream(t) for t in (pages_text or [""])])


def _assemble_pdf(streams: list[bytes]) -> bytes:
    """Assemble deflated content streams into a valid one-page-per-stream
    PDF (catalog/pages/font objects, xref, trailer)."""
    n = len(streams)
    objects: list[bytes] = []
    # 1: catalog, 2: pages, 3: font; pages at 4..4+n-1, contents after
    kids = " ".join(f"{4 + i} 0 R" for i in range(n))
    objects.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objects.append(f"<< /Type /Pages /Kids [{kids}] /Count {n} >>".encode())
    objects.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    for i in range(n):
        objects.append(
            (
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                f"/Resources << /Font << /F1 3 0 R >> >> /Contents {4 + n + i} 0 R >>"
            ).encode()
        )
    for data in streams:
        objects.append(
            f"<< /Length {len(data)} /Filter /FlateDecode >>\nstream\n".encode() + data + b"\nendstream"
        )

    buf = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for idx, obj in enumerate(objects, start=1):
        offsets.append(len(buf))
        buf += f"{idx} 0 obj\n".encode() + obj + b"\nendobj\n"
    xref_at = len(buf)
    buf += f"xref\n0 {len(objects) + 1}\n".encode()
    buf += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        buf += f"{off:010d} 00000 n \n".encode()
    buf += (
        f"trailer\n<< /Size {len(objects) + 1} /Root 1 0 R >>\nstartxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(buf)


# Streams are located via their dict's /Length (direct integer, or an
# indirect `N G R` reference resolved against `N G obj <int> endobj`) —
# delimiter-scanning for "endstream" is wrong because compressed data
# can end in 0x0D, which a \r?\n delimiter regex would silently eat.
_STREAM_KW_RE = re.compile(rb"stream\r?\n")
_LEN_INDIRECT_RE = re.compile(rb"/Length\s+(\d+)\s+(\d+)\s+R")
_LEN_DIRECT_RE = re.compile(rb"/Length\s+(\d+)(?!\s+\d+\s+R)")


def _iter_streams(blob: bytes):
    """Yield (dict_header_bytes, data_start) per stream: backtrack from
    each ``stream`` keyword over the balanced ``<< ... >>`` dict."""
    for m in _STREAM_KW_RE.finditer(blob):
        j = m.start()
        while j > 0 and blob[j - 1 : j].isspace():
            j -= 1
        if blob[j - 2 : j] != b">>":
            continue
        depth, i = 1, j - 2
        while i > 0 and depth:
            if blob[i - 2 : i] == b">>":
                depth += 1
                i -= 2
            elif blob[i - 2 : i] == b"<<":
                depth -= 1
                i -= 2
            else:
                i -= 1
        if depth == 0:
            yield blob[i:j], m.end()


def _stream_length(header: bytes, blob: bytes) -> int | None:
    m = _LEN_INDIRECT_RE.search(header)
    if m:
        ref = re.search(
            rb"\b" + m.group(1) + rb"\s+" + m.group(2) + rb"\s+obj\s+(\d+)\s+endobj", blob
        )
        return int(ref.group(1)) if ref else None
    m = _LEN_DIRECT_RE.search(header)
    return int(m.group(1)) if m else None

# --- stream filter decoders (PDF 1.7 §7.4) --------------------------------
# Decoded here: FlateDecode, LZWDecode (TIFF-style early-change codes),
# ASCIIHexDecode, ASCII85Decode, RunLengthDecode — and chains of them
# in array order. Image-codec filters (DCT/CCITT/JBIG2/JPX) and
# encryption stay behind the loud gate below: those documents route to
# the rasterizer branch (a real pypdfium2 renders them).


def _asciihex_decode(data: bytes) -> bytes:
    body = data.split(b">", 1)[0]
    hexs = b"".join(body.split())
    if len(hexs) % 2:  # odd final digit: pad with 0 (spec 7.4.2)
        hexs += b"0"
    return bytes.fromhex(hexs.decode("ascii"))


def _ascii85_decode(data: bytes) -> bytes:
    body = data.split(b"~>", 1)[0]
    out = bytearray()
    group: list[int] = []
    for ch in body:
        if ch == 0x7A:  # 'z' = four zero bytes (only legal between groups)
            if group:
                raise ValueError("'z' inside an ASCII85 group")
            out += b"\0\0\0\0"
            continue
        if 0x21 <= ch <= 0x75:  # '!'..'u'
            group.append(ch - 0x21)
            if len(group) == 5:
                n = 0
                for d in group:
                    n = n * 85 + d
                out += n.to_bytes(4, "big")
                group = []
        # whitespace: skipped
    if group:  # partial group of k chars -> k-1 bytes, pad with 'u' (84)
        k = len(group)
        if k == 1:  # 1 leftover digit = 0 output bytes: truncated stream (spec 7.4.3)
            raise ValueError("ASCII85 stream ends with a single-digit partial group")
        n = 0
        for d in group + [84] * (5 - k):
            n = n * 85 + d
        out += n.to_bytes(4, "big")[: k - 1]
    return bytes(out)


def _runlength_decode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    while i < len(data):
        ln = data[i]
        if ln == 128:  # EOD
            break
        if ln < 128:
            out += data[i + 1 : i + 2 + ln]
            i += 2 + ln
        else:
            out += data[i + 1 : i + 2] * (257 - ln)
            i += 2
    return bytes(out)


def _lzw_decode(data: bytes, early_change: int = 1) -> bytes:
    """PDF/TIFF LZW: 9→12-bit codes MSB-first, clear=256, EOD=257,
    table grows at 2^w - early_change (spec 7.4.4, EarlyChange default 1)."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width, buf, nbits = 9, 0, 0
    prev: bytes | None = None
    for byte in data:
        buf = (buf << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (buf >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:  # clear table
                table = table[:258]
                width, prev = 9, None
                continue
            if code == 257:  # EOD
                return bytes(out)
            if code < len(table):
                entry = table[code]
            elif code == len(table) and prev is not None:
                entry = prev + prev[:1]
            else:
                raise ValueError(f"bad LZW code {code}")
            out += entry
            if prev is not None:
                table.append(prev + entry[:1])
            prev = entry
            # Width bumps when the NEXT code to be assigned would not fit:
            # with EarlyChange=1 (PDF default) that's one code early, i.e.
            # at table size 2^w - 1 (511/1023/2047 — pdfminer/mupdf agree).
            if len(table) + early_change >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


_FILTER_DECODERS = {
    b"FlateDecode": zlib.decompress,
    b"Fl": zlib.decompress,  # PDF 1.7 table 6 abbreviations
    b"LZWDecode": _lzw_decode,
    b"LZW": _lzw_decode,
    b"ASCIIHexDecode": _asciihex_decode,
    b"AHx": _asciihex_decode,
    b"ASCII85Decode": _ascii85_decode,
    b"A85": _ascii85_decode,
    b"RunLengthDecode": _runlength_decode,
    b"RL": _runlength_decode,
}

_FILTER_NAMES_RE = re.compile(rb"/Filter\s*(?:\[([^\]]*)\]|/(\w+))")
_NAME_RE = re.compile(rb"/(\w+)")


def _stream_filters(header: bytes) -> list[bytes]:
    """Filter-name chain of a stream dict, in decode order."""
    m = _FILTER_NAMES_RE.search(header)
    if not m:
        return []
    if m.group(2) is not None:
        return [m.group(2)]
    return [n.group(1) for n in _NAME_RE.finditer(m.group(1))]


def _apply_filters(data: bytes, filters: list[bytes]) -> bytes:
    for name in filters:
        dec = _FILTER_DECODERS.get(name)
        if dec is None:
            raise UnsupportedPdfError(
                f"PDF stream filter /{name.decode()} is not decodable here; "
                "route this document through the rasterizer branch "
                "(sources/rasterize.py)"
            )
        data = dec(data)
    return data


# --- unsupported-document gate -------------------------------------------
# The parser decodes the text-bearing filters above. Image-codec
# filters (DCT/CCITT/JBIG2/JPX), /Crypt and encryption would fall
# through to EMPTY page text — a silent data loss. The gate names the
# reason loudly; the multi-source facade uses the same token set
# JVM-side to route such docs to the rasterizer branch (a real
# pypdfium2 rasterizer handles them), so they are flagged or
# re-routed, never silently blank.


class UnsupportedPdfError(ValueError):
    """Raised for a PDF this content-stream parser cannot faithfully
    read (encryption or an image-codec stream filter)."""


# filter names this parser cannot decode (PDF 1.7 table 6), /Encrypt,
# and composite-font CID text (hex strings are 2-byte CIDs needing a
# CMap — undecodable as single-byte codes)
UNSUPPORTED_PDF_TOKENS = (
    b"/Encrypt",
    b"/DCTDecode",
    b"/CCITTFaxDecode",
    b"/JBIG2Decode",
    b"/JPXDecode",
    b"/Crypt",
    b"/Identity-H",
)


def pdf_unsupported_reason(blob: bytes) -> str | None:
    """The first unsupported feature found, or None if parseable."""
    for tok in UNSUPPORTED_PDF_TOKENS:
        if tok in blob:
            if tok == b"/Encrypt":
                return "encrypted"
            if tok == b"/Identity-H":
                return "cid-font:Identity-H"
            return f"filter:{tok[1:].decode()}"
    return None
# Show operators (PDF 1.7 §9.4.3): Tj, the move-and-show ' and "
# (their numeric/line operands precede the string, so the same
# string-then-operator match covers them), literal or hex strings, and
# TJ arrays mixing both. Hex strings decode as single-byte codes
# (simple fonts); composite-font CID text needs a CMap and gates via
# /Identity-H below.
_SHOW_RE = re.compile(
    r"\(((?:[^()\\]|\\.)*)\)\s*(?:Tj|'|\")"  # (string) Tj / ' / "
    r"|<([0-9A-Fa-f\s]*)>\s*(?:Tj|'|\")"  # <hex> Tj / ' / "
    r"|\[((?:[^\[\]\\]|\\.)*)\]\s*TJ",  # [ (s1) kern <s2> ... ] TJ
    re.DOTALL,
)
_TJ_PART_RE = re.compile(r"\(((?:[^()\\]|\\.)*)\)|<([0-9A-Fa-f\s]*)>", re.DOTALL)


def _hex_string(s: str) -> str:
    """PDF hex string: whitespace ignored, odd final digit padded with
    0 (spec 7.3.4.3); single-byte codes → latin-1 text."""
    hexs = "".join(s.split())
    if len(hexs) % 2:
        hexs += "0"
    return bytes.fromhex(hexs).decode("latin-1")


def _page_contents(blob: bytes) -> list[str]:
    """Decoded content stream per page: each stream runs through its
    declared filter chain (Flate / LZW / ASCIIHex / ASCII85 /
    RunLength, in array order; direct or indirect /Length). Raises
    ``UnsupportedPdfError`` (never returns silently-empty text) for
    encrypted PDFs, image-codec stream filters and CID fonts."""
    reason = pdf_unsupported_reason(blob)
    if reason is not None:
        raise UnsupportedPdfError(
            f"PDF uses an unsupported feature ({reason}); the content-stream "
            "parser decodes text-bearing filters only — route this document "
            "through the rasterizer branch (sources/rasterize.py)"
        )
    contents: list[str] = []
    for header, start in _iter_streams(blob):
        length = _stream_length(header, blob)
        if length is None:
            continue
        raw = blob[start : start + length]
        filters = _stream_filters(header)
        if filters:
            data = _apply_filters(raw, filters)
        else:
            # no /Filter key: historical fixtures store either deflated
            # or plain bytes — try inflate, fall back to raw
            try:
                data = zlib.decompress(raw)
            except zlib.error:
                data = raw
        contents.append(data.decode("latin-1"))
    return contents


def _show_text(sm: "re.Match") -> str:
    if sm.group(1) is not None:
        return _unescape_pdf_string(sm.group(1))
    if sm.group(2) is not None:
        return _hex_string(sm.group(2))
    parts = []
    for pm in _TJ_PART_RE.finditer(sm.group(3)):
        parts.append(
            _unescape_pdf_string(pm.group(1)) if pm.group(1) is not None else _hex_string(pm.group(2))
        )
    return "".join(parts)


def decode_pdf_texts(blob: bytes) -> list[str]:
    """Per-page text of a PDF in stream order: the Tj / ' / " and TJ
    showing operators of each decoded content stream (``_page_contents``),
    in order. Unsupported documents raise ``UnsupportedPdfError`` —
    route those through the rasterizer branch (sources/reader.py does
    this automatically)."""
    return ["".join(_show_text(sm) for sm in _SHOW_RE.finditer(c)) for c in _page_contents(blob)]


PDF_SCHEMA = "doc_id string, pdf binary"
PDF_TEXT_SCHEMA = "doc_id string, page int, page_text string"


def encode_pdf_pages(words: list[str]) -> bytes:
    """A real PDF with one page per corpus page of ``words``
    (``corpus.pages``), each page's words joined by single spaces."""
    return encode_pdf([" ".join(page) for page in pages(words)])


def synthesize_pdfs(documents: DataFrame) -> DataFrame:
    """(doc_id, pdf): a real PDF per document, one page per corpus page
    (``encode_pdf_pages``, the same pagination as the OCR corpus)."""
    base = documents.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.split(F.trim("text"), r"\s+").alias("words"),
    )
    base = spread(base)

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "pdf": [encode_pdf_pages([w for w in list(words) if w]) for words in pdf["words"]],
            })

    return base.mapInPandas(build, schema=PDF_SCHEMA)


def pdf_pages_text(pdfs: DataFrame) -> DataFrame:
    """(doc_id, page, page_text) from a (doc_id, pdf binary) table."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["pdf"]):
                for p, text in enumerate(decode_pdf_texts(bytes(blob))):
                    rows.append({"doc_id": doc_id, "page": p, "page_text": text})
            yield pd.DataFrame(rows, columns=["doc_id", "page", "page_text"])

    return pdfs.mapInPandas(parse, schema=PDF_TEXT_SCHEMA)


def pdf_extract_query(documents: DataFrame) -> DataFrame:
    """Roundtrip query: synthesize real PDFs → parse text back."""
    return pdf_pages_text(synthesize_pdfs(documents))


PDF_EXTRACT_SQL = f"""
WITH w AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         string_split_regex(trim(text), '\\s+') AS words
  FROM documents
), pages AS (
  SELECT doc_id, words,
         unnest(generate_series(0, CAST(greatest(1, ceil(len(words) / {WORDS_PER_PAGE}.0)) AS INT) - 1)) AS p
  FROM w
)
SELECT doc_id, CAST(p AS INT) AS page,
       array_to_string(words[p * {WORDS_PER_PAGE} + 1 : (p + 1) * {WORDS_PER_PAGE}], ' ') AS page_text
FROM pages
"""


# --- layout parse: multi-column reading order ------------------------------
# The north-rule's "PDF/layout parse" beyond stream order: real PDFs
# interleave columns in the content stream; reading order must be
# recovered from glyph POSITIONS, not operator order.

LAYOUT_WORDS_PER_LINE = 6
LAYOUT_COL_X = (72, 306)
LAYOUT_TOP_Y = 720
LAYOUT_LEADING = 14

_TM_RE = re.compile(
    rb"(-?\d+(?:\.\d+)?)\s+(-?\d+(?:\.\d+)?)\s+(-?\d+(?:\.\d+)?)\s+"
    rb"(-?\d+(?:\.\d+)?)\s+(-?\d+(?:\.\d+)?)\s+(-?\d+(?:\.\d+)?)\s+Tm".decode()
)
_TD_RE = re.compile(r"(-?\d+(?:\.\d+)?)\s+(-?\d+(?:\.\d+)?)\s+T[dD]")


def encode_pdf_columns(text: str, words_per_line: int = LAYOUT_WORDS_PER_LINE) -> bytes:
    """Single-page TWO-COLUMN PDF whose content stream interleaves the
    columns line-by-line (L1 R1 L2 R2 …) — stream order deliberately
    differs from reading order (left column top-to-bottom, then right),
    so only a position-aware parser extracts the text correctly."""
    words = text.split()
    lines = [
        " ".join(words[i : i + words_per_line]) for i in range(0, len(words), words_per_line)
    ] or [""]
    half = (len(lines) + 1) // 2
    cols = (lines[:half], lines[half:])
    ops = []
    for i in range(half):
        for c in (0, 1):
            if i < len(cols[c]):
                x, y = LAYOUT_COL_X[c], LAYOUT_TOP_Y - i * LAYOUT_LEADING
                ops.append(f"1 0 0 1 {x} {y} Tm ({_escape_pdf_string(cols[c][i])}) Tj")
    body = "BT /F1 12 Tf " + " ".join(ops) + " ET"
    return _assemble_pdf([zlib.compress(body.encode("latin-1"), 6)])


def decode_pdf_layout(blob: bytes) -> list[str]:
    """Per-page text in READING order: track the text-space origin
    through translation-only Tm and relative Td/TD operators, attach
    (x, y) to every show operator, split spans into columns when the
    x spread says there are two (boundary = x midrange), and emit
    column-major top-down. Single-column pages (no x spread) reduce to
    a pure top-down sort — stream order is never trusted. Reads the
    same decoded streams as ``decode_pdf_texts`` (``_page_contents``,
    with its UnsupportedPdfError gate)."""
    texts: list[str] = []
    for content in _page_contents(blob):
        events: list[tuple[int, str, object]] = []
        for m in _TM_RE.finditer(content):
            events.append((m.start(), "tm", (float(m.group(5)), float(m.group(6)))))
        for m in _TD_RE.finditer(content):
            events.append((m.start(), "td", (float(m.group(1)), float(m.group(2)))))
        for m in _SHOW_RE.finditer(content):
            events.append((m.start(), "show", m))
        events.sort(key=lambda e: e[0])
        x = y = 0.0
        spans: list[tuple[float, float, str]] = []
        for _, kind, payload in events:
            if kind == "tm":
                x, y = payload
            elif kind == "td":
                x, y = x + payload[0], y + payload[1]
            else:
                spans.append((x, y, _show_text(payload)))
        if not spans:
            texts.append("")
            continue
        xs = [s[0] for s in spans]
        two_col = max(xs) - min(xs) > 100
        boundary = (max(xs) + min(xs)) / 2 if two_col else float("inf")
        ordered = sorted(spans, key=lambda s: (s[0] >= boundary, -s[1], s[0]))
        texts.append(" ".join(t for _, _, t in ordered if t))
    return texts


PDF_LAYOUT_SCHEMA = "doc_id string, main_text string"


def pdf_layout_extract_query(documents: DataFrame) -> DataFrame:
    """Roundtrip layout query: build an interleaved two-column PDF per
    doc, recover reading order from positions. Oracle: the doc's
    normalized text — any ordering mistake breaks equality."""
    base = documents.select(
        F.col("doc_id").cast("string").alias("doc_id"), F.trim("text").alias("text")
    )
    base = spread(base)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                blob = encode_pdf_columns(" ".join(text.split()))
                rows.append({"doc_id": doc_id, "main_text": " ".join(decode_pdf_layout(blob))})
            yield pd.DataFrame(rows, columns=["doc_id", "main_text"])

    return base.mapInPandas(run, schema=PDF_LAYOUT_SCHEMA)


PDF_LAYOUT_SQL = """
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       regexp_replace(trim(text), '\\s+', ' ', 'g') AS main_text
FROM documents
"""
