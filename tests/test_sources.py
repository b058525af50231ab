"""HTML boilerplate strip (S3) and PDF content-stream parse (S1)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from onnxtr_spark.sources import html as H
from onnxtr_spark.sources import pdf as P


def test_pdf_roundtrip_with_escapes():
    texts = ["hello world", "long " * 20 + "tail", "", "par(en)s \\ backslash", "tab\tand\nnewline"]
    blob = P.encode_pdf(texts)
    assert blob.startswith(b"%PDF-1.4") and blob.rstrip().endswith(b"%%EOF")
    assert P.decode_pdf_texts(blob) == texts


def test_pdf_stream_ending_in_carriage_return():
    """A FlateDecode stream whose last byte is 0x0D must not lose it
    (the /Length-based locator, not delimiter scanning)."""
    # 'a684eceee7' deflates to a stream whose adler32 ends in 0x0D
    found = "a684eceee7"
    assert P._content_stream(found).endswith(b"\r")
    assert P.decode_pdf_texts(P.encode_pdf([found])) == [found]


def test_pdf_uncompressed_stream_fallback():
    blob = (
        b"%PDF-1.4\n1 0 obj\n<< /Length 33 >>\nstream\n"
        b"BT (plain uncompressed) Tj ET ok!"
        b"\nendstream\nendobj\n%%EOF"
    )
    assert P.decode_pdf_texts(blob) == ["plain uncompressed"]


def test_pdf_spark_roundtrip(spark):
    docs = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": ["a", "b"],
            "text": [" ".join(f"w{i}" for i in range(65)), "short text"],
        })
    )
    out = P.pdf_extract_query(docs).toPandas().sort_values(["doc_id", "page"])
    a = out[out.doc_id == "a"]
    assert list(a.page) == [0, 1, 2]
    assert a.iloc[0].page_text == " ".join(f"w{i}" for i in range(30))
    assert a.iloc[2].page_text == " ".join(f"w{i}" for i in range(60, 65))
    b = out[out.doc_id == "b"]
    assert list(b.page_text) == ["short text"]


def test_html_strip_boilerplate_and_entities(spark):
    html = (
        "<html><head><title>junk</title><script>if(1<2){a&&b}</script></head>"
        "<body><nav><p>menu junk</p></nav><header><p>head junk</p></header>"
        "<main><p>real &amp; true &lt;content&gt;</p><p>second   block</p></main>"
        "<aside><p>ad junk</p></aside><footer><p>foot junk</p></footer></body></html>"
    )
    df = spark.createDataFrame(pd.DataFrame({"html": [html]}))
    got = df.select(H.html_main_text(F.col("html")).alias("t")).collect()[0].t
    assert got == "real & true <content> second block"


def test_html_block_link_density_scoring(spark):
    """The block stage keeps content blocks (zero or light links: a
    citation link under a third of the text survives) and kills
    link-farm paragraphs that no container rule can catch."""
    html = (
        "<html><body><main>"
        "<p>genuine article paragraph with enough prose to matter here</p>"
        '<p><a href="#">share this</a> <a href="#">related posts</a> <a href="#">more links</a> now</p>'
        '<p>analysis citing one <a href="#">source</a> amid plenty of ordinary running text</p>'
        "</main></body></html>"
    )
    df = spark.createDataFrame(pd.DataFrame({"html": [html]}))
    got = df.select(H.html_block_main_text(F.col("html")).alias("t")).collect()[0].t
    assert got == (
        "genuine article paragraph with enough prose to matter here "
        "analysis citing one source amid plenty of ordinary running text"
    )


def test_html_block_roundtrip_query(spark):
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": ["x"], "text": ["word soup & <tags> " + "pad " * 40]})
    )
    out = H.html_block_extract_query(docs).collect()[0]
    import re

    assert out.main_text == re.sub(r"\s+", " ", docs.collect()[0].text.strip())


def test_html_roundtrip_query(spark):
    docs = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": ["x"],
            "text": ["  spaced   words & <angle> stuff  " + "pad " * 40],
        })
    )
    out = H.html_extract_query(docs).collect()[0]
    import re

    assert out.main_text == re.sub(r"\s+", " ", docs.collect()[0].text.strip())


def test_html_spark_matches_duckdb_regex_flavor(spark):
    """The same strip program runs in both engines (RE2-safe patterns)."""
    import duckdb

    html = (
        '<html><head><style>a{}</style></head><body><nav><a href="#">x</a></nav>'
        "<main><p>alpha&nbsp;beta</p></main><footer>f</footer></body></html>"
    )
    df = spark.createDataFrame(pd.DataFrame({"html": [html]}))
    got_spark = df.select(H.html_main_text(F.col("html")).alias("t")).collect()[0].t
    got_duck = duckdb.sql(
        f"SELECT {H.html_main_text_sql('html')} AS t FROM (SELECT '{html}' AS html)"
    ).fetchone()[0]
    assert got_spark == got_duck == "alpha beta"


# --- S1 rasterize seam (sources/rasterize.py) -------------------------------

def test_rasterizer_stub_renders_pdf_pages_at_scale2():
    """The stub rasterizer re-renders the PDF's own text at scale=2
    (reference io/pdf.py:16 default), one RGB page per PDF page."""
    import numpy as np

    from onnxtr_spark import imaging
    from onnxtr_spark.corpus import WORDS_PER_LINE
    from onnxtr_spark.sources.pdf import encode_pdf
    from onnxtr_spark.sources.rasterize import RasterizerConfig, get_rasterizer

    blob = encode_pdf(["alpha beta gamma", "delta"])
    ras = get_rasterizer(RasterizerConfig())
    pages = ras.rasterize(blob)
    assert len(pages) == 2
    words = "alpha beta gamma".split()
    lines = [words[i : i + WORDS_PER_LINE] for i in range(0, len(words), WORDS_PER_LINE)]
    base = imaging.render_page(lines)
    expect = np.kron(base, np.ones((2, 2, 1), dtype=np.uint8))
    assert pages[0].shape == expect.shape and (pages[0] == expect).all()
    assert pages[0].dtype == np.uint8 and pages[0].shape[2] == 3  # rgb_mode contract


def test_rasterizer_registry_injection_and_unregistered_error():
    """The seam mirrors the model registry: a custom factory resolves
    by name; an unregistered name raises (where pypdfium2 would plug in)."""
    import pytest

    from onnxtr_spark.sources import rasterize as rz

    class Fake:
        def __init__(self, cfg):
            self.scale = cfg.scale

        def rasterize(self, blob):
            return []

    rz.register_rasterizer("fake_pdfium", Fake)
    try:
        got = rz.get_rasterizer(rz.RasterizerConfig(name="fake_pdfium", scale=3.0))
        assert isinstance(got, Fake) and got.scale == 3.0
        with pytest.raises(NotImplementedError):
            rz.get_rasterizer(rz.RasterizerConfig(name="missing_rasterizer"))
    finally:
        rz.RASTERIZER_REGISTRY.pop("fake_pdfium", None)


# --- stream filter decoders (PDF 1.7 §7.4) ----------------------------------


def _one_stream_pdf(data: bytes, filt: str, length: bytes | None = None, extra: bytes = b"") -> bytes:
    ln = str(len(data)).encode() if length is None else length
    return (
        b"%PDF-1.4\n1 0 obj\n<< /Length " + ln + b" /Filter " + filt.encode()
        + b" >>\nstream\n" + data + b"\nendstream\nendobj\n" + extra + b"%%EOF"
    )


def _lzw_encode(data: bytes, early: int = 1) -> bytes:
    """Test-side TIFF/PDF LZW encoder mirroring the decoder's width
    timeline (clear, data codes, EOD; 9→12-bit MSB-first)."""
    codes = []
    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    w = b""
    for byte in data:
        wb = w + bytes([byte])
        if wb in table:
            w = wb
        else:
            codes.append(table[w])
            table[wb] = next_code
            next_code += 1
            w = bytes([byte])
    if w:
        codes.append(table[w])
    out, buf, nbits, width = bytearray(), 0, 0, 9

    def emit(c):
        nonlocal buf, nbits
        buf = (buf << width) | c
        nbits += width
        while nbits >= 8:
            out.append((buf >> (nbits - 8)) & 0xFF)
            nbits -= 8

    emit(256)
    for k, c in enumerate(codes, start=1):
        emit(c)
        # after the decoder consumes data code k its table holds
        # 258 + (k-1) entries; with EarlyChange the width for code k+1
        # bumps when that size is within `early` of 2^w (511/1023/2047
        # at early=1 — the pdfminer/mupdf timeline)
        if 258 + (k - 1) + early >= (1 << width) and width < 12:
            width += 1
    emit(257)
    if nbits:
        out.append(((buf & ((1 << nbits) - 1)) << (8 - nbits)) & 0xFF)
    return bytes(out)


@pytest.mark.parametrize(
    "filt,enc",
    [
        ("/ASCIIHexDecode", lambda b: __import__("binascii").hexlify(b) + b">"),
        ("/AHx", lambda b: __import__("binascii").hexlify(b) + b">"),
        ("/ASCII85Decode", lambda b: __import__("base64").a85encode(b) + b"~>"),
        ("/RunLengthDecode", lambda b: b"".join(
            bytes([len(c) - 1]) + c for c in (b[i : i + 100] for i in range(0, len(b), 100))
        ) + bytes([128])),
        ("/LZWDecode", _lzw_encode),
    ],
)
def test_pdf_filter_decoders_roundtrip(filt, enc):
    ops = b"BT /F1 12 Tf 72 720 Td (decoded through " + filt.encode()[1:] + b") Tj ET"
    blob = _one_stream_pdf(enc(ops), filt)
    assert P.decode_pdf_texts(blob) == [f"decoded through {filt[1:]}"]


def test_pdf_filter_chain_in_decode_order():
    """/Filter [A B]: A is applied first when decoding (spec 7.3.8)."""
    import base64
    import zlib as z

    ops = b"BT (chained filters) Tj ET"
    blob = _one_stream_pdf(base64.a85encode(z.compress(ops)) + b"~>", "[/ASCII85Decode /FlateDecode]")
    assert P.decode_pdf_texts(blob) == ["chained filters"]


def test_pdf_lzw_width_growth_roundtrip():
    """An LZW stream long enough to cross the 9->10-bit code boundary."""
    text = " ".join(f"tok{i}" for i in range(400))
    ops = ("BT (" + text + ") Tj ET").encode()
    assert P._lzw_decode(_lzw_encode(ops)) == ops
    blob = _one_stream_pdf(_lzw_encode(ops), "/LZWDecode")
    assert P.decode_pdf_texts(blob) == [text]


def test_pdf_indirect_length_resolved():
    import zlib as z

    data = z.compress(b"BT (indirect length) Tj ET")
    blob = _one_stream_pdf(
        data, "/FlateDecode", length=b"5 0 R",
        extra=b"5 0 obj\n" + str(len(data)).encode() + b"\nendobj\n",
    )
    assert P.decode_pdf_texts(blob) == ["indirect length"]


def test_pdf_now_supported_filters_pass_the_gate():
    """LZW/ASCII85/ASCIIHex/RunLength are DECODED, not gated (the gate
    keeps only image codecs + encryption)."""
    assert P.pdf_unsupported_reason(b"%PDF /Filter /LZWDecode stream") is None
    assert P.pdf_unsupported_reason(b"%PDF /Filter /ASCII85Decode stream") is None
    assert P.pdf_unsupported_reason(b"%PDF /Filter /JBIG2Decode stream") == "filter:JBIG2Decode"


# --- unsupported-PDF gate (round-3 verdict item #6) -------------------------

# a DCT-filtered (JPEG) image stream and an encrypted trailer — both
# beyond the FlateDecode/Tj parser
DCT_PDF = (
    b"%PDF-1.4\n1 0 obj\n<< /Subtype /Image /Filter /DCTDecode /Length 4 >>\n"
    b"stream\n\xff\xd8\xff\xd9\nendstream\nendobj\n%%EOF"
)
ENCRYPTED_PDF = (
    b"%PDF-1.4\n1 0 obj\n<< /Length 10 >>\nstream\n(hidden) Tj\nendstream\nendobj\n"
    b"trailer\n<< /Root 1 0 R /Encrypt 9 0 R >>\n%%EOF"
)


def test_unsupported_pdf_gate_raises_named_error():
    """decode_pdf_texts must raise UnsupportedPdfError — never return
    silently-empty page text — for filters/encryption it can't read."""
    assert P.pdf_unsupported_reason(DCT_PDF) == "filter:DCTDecode"
    assert P.pdf_unsupported_reason(ENCRYPTED_PDF) == "encrypted"
    assert P.pdf_unsupported_reason(P.encode_pdf(["plain"])) is None
    with pytest.raises(P.UnsupportedPdfError, match="DCTDecode"):
        P.decode_pdf_texts(DCT_PDF)
    with pytest.raises(P.UnsupportedPdfError, match="encrypted"):
        P.decode_pdf_texts(ENCRYPTED_PDF)


def test_layout_decoder_shares_the_unsupported_gate():
    """decode_pdf_layout reads the same gated streams: it raises on the
    same fixtures instead of returning blank reading-order text."""
    with pytest.raises(P.UnsupportedPdfError, match="DCTDecode"):
        P.decode_pdf_layout(DCT_PDF)
    with pytest.raises(P.UnsupportedPdfError, match="encrypted"):
        P.decode_pdf_layout(ENCRYPTED_PDF)
    assert P.decode_pdf_layout(P.encode_pdf(["plain text"])) == ["plain text"]


class TolerantRasterizer:
    """Test stand-in for a REAL pypdfium2: renders any PDF (even ones
    the content-stream parser rejects) as one fixed page."""

    def __init__(self, cfg):
        self.cfg = cfg

    def rasterize(self, blob):
        from onnxtr_spark import imaging

        return [imaging.render_page([["rerouted", "doc"]])]


# module-level registration: executors resolve via factory_module import
from onnxtr_spark.sources.rasterize import register_rasterizer  # noqa: E402

register_rasterizer("tolerant_pdfium", TolerantRasterizer)


def test_unsupported_pdf_routed_to_rasterizer_branch(spark):
    """A kind='pdf' doc the parser can't read is REROUTED to the
    rasterizer branch (flagged by kind='pdf_scanned' in the output) —
    with a capable rasterizer its text is recovered, and the supported
    sibling doc still takes the parse branch."""
    import pandas as pd

    from onnxtr_spark.sources.rasterize import RasterizerConfig
    from onnxtr_spark.sources.reader import read_documents

    df = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": ["good", "bad"],
            "kind": ["pdf", "pdf"],
            "page": [0, 0],
            "payload": [P.encode_pdf(["plain parse text"]), DCT_PDF],
        })
    )
    cfg = RasterizerConfig(name="tolerant_pdfium", factory_module="tests.test_sources")
    out = {(r.doc_id, r.page): (r.kind, r.text) for r in read_documents(df, rasterizer_cfg=cfg).collect()}
    assert out[("good", 0)] == ("pdf", "plain parse text")
    assert out[("bad", 0)] == ("pdf_scanned", "rerouted doc")


# --- html render seam (round-3 verdict item #5) ------------------------------


def test_html_renderer_stub_strip_matches_jvm(spark):
    """The stub renderer's Python strip mirror equals the JVM column
    algebra on boilerplate-laden html, and render() emits a real PDF
    whose pages are the WORDS_PER_PAGE chunks of the main content."""
    from onnxtr_spark.corpus import WORDS_PER_PAGE
    from onnxtr_spark.sources import render as R

    words = " ".join(f"w{i}" for i in range(WORDS_PER_PAGE + 5))
    html = (
        f"<html><head><script>a&&b<c</script></head><body><nav><p>junk</p></nav>"
        f"<main><p>{words}</p></main><footer><p>foot</p></footer></body></html>"
    )
    jvm = (
        spark.createDataFrame(pd.DataFrame({"html": [html]}))
        .select(H.html_main_text(F.col("html")).alias("t"))
        .collect()[0]
        .t
    )
    assert R.strip_html_py(html) == jvm == words
    pdf = R.get_html_renderer(R.HtmlRendererConfig()).render(html)
    toks = words.split()
    assert P.decode_pdf_texts(pdf) == [
        " ".join(toks[:WORDS_PER_PAGE]),
        " ".join(toks[WORDS_PER_PAGE:]),
    ]


def test_html_renderer_registry_unregistered_error():
    from onnxtr_spark.sources import render as R

    with pytest.raises(NotImplementedError, match="not registered"):
        R.get_html_renderer(R.HtmlRendererConfig(name="missing_weasy"))


def test_html_scanned_branch_ocr_roundtrip(spark):
    """kind=html_scanned routes html -> render -> rasterize -> OCR and
    recovers the stripped main content (the reference's read_html path
    re-entering S1, io/html.py:11-26)."""
    import pandas as pd

    from onnxtr_spark.sources.reader import read_documents

    html = (
        "<html><head><title>junk</title></head><body><nav><p>menu</p></nav>"
        "<main><p>rendered main words</p></main><footer><p>foot</p></footer></body></html>"
    )
    df = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": ["h1"], "kind": ["html_scanned"], "page": [0],
            "payload": [html.encode()],
        })
    )
    rows = read_documents(df).collect()
    assert len(rows) == 1
    assert (rows[0].kind, rows[0].page, rows[0].text) == ("html_scanned", 0, "rendered main words")


def test_scanned_pdf_branch_ocr_roundtrip(spark):
    """kind=pdf_scanned routes pdf -> rasterize -> OCR and recovers the
    exact page text (span equality through the scanned branch)."""
    import pandas as pd

    from onnxtr_spark.sources.pdf import encode_pdf
    from onnxtr_spark.sources.reader import read_documents

    blob = encode_pdf(["scanned page one words", "and the second page"])
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": ["s1"], "kind": ["pdf_scanned"], "page": [0], "payload": [blob]})
    )
    out = {(r.doc_id, r.page): (r.kind, r.text) for r in read_documents(df).collect()}
    assert out[("s1", 0)] == ("pdf_scanned", "scanned page one words")
    assert out[("s1", 1)] == ("pdf_scanned", "and the second page")
    assert len(out) == 2


# --- property tests: filter decoders invert arbitrary payloads --------------

from hypothesis import given, settings
from hypothesis import strategies as st

_payload = st.binary(min_size=0, max_size=600)


@settings(max_examples=60, deadline=None)
@given(_payload)
def test_ascii85_decoder_inverts_stdlib_encoder(data):
    import base64

    assert P._ascii85_decode(base64.a85encode(data) + b"~>") == data


@settings(max_examples=60, deadline=None)
@given(_payload)
def test_asciihex_decoder_inverts_hexlify(data):
    import binascii

    assert P._asciihex_decode(binascii.hexlify(data) + b">") == data


@settings(max_examples=60, deadline=None)
@given(_payload)
def test_runlength_decoder_inverts_literal_encoding(data):
    enc = b"".join(
        bytes([len(c) - 1]) + c for c in (data[i : i + 128] for i in range(0, len(data), 128))
    ) + bytes([128])
    assert P._runlength_decode(enc) == data


@settings(max_examples=40, deadline=None)
@given(_payload)
def test_lzw_decoder_inverts_encoder(data):
    assert P._lzw_decode(_lzw_encode(data)) == data


def _lzw_boundary_payload(n_pairs: int) -> bytes:
    # n_pairs distinct 2-byte patterns -> ~n_pairs new table entries,
    # deterministically marching the table across the 511/1023 widths
    return b"".join(bytes([i & 0xFF, (i * 7 + 3) & 0xFF]) for i in range(n_pairs))


@pytest.mark.parametrize("n_pairs", [300, 900])  # crosses 511; 900 also crosses 1023
def test_lzw_width_bump_crosses_early_change_boundaries(n_pairs):
    data = _lzw_boundary_payload(n_pairs)
    assert P._lzw_decode(_lzw_encode(data)) == data


def test_lzw_early_change_timelines_are_distinguished():
    """EarlyChange=1 (PDF default) bumps the code width one code EARLIER
    than EarlyChange=0. The two timelines genuinely diverge once the
    table crosses 511 entries, so a decoder on the wrong timeline must
    desync — this is the regression guard for the off-by-one where
    encoder and decoder agreed with each other but not with the spec
    (both bumped at 2^w instead of 2^w-1)."""
    data = _lzw_boundary_payload(300)
    # each timeline is self-consistent...
    assert P._lzw_decode(_lzw_encode(data, early=1), early_change=1) == data
    assert P._lzw_decode(_lzw_encode(data, early=0), early_change=0) == data
    # ...but crossing them desyncs past the 511-entry boundary
    for enc_early, dec_early in ((0, 1), (1, 0)):
        try:
            got = P._lzw_decode(_lzw_encode(data, early=enc_early), early_change=dec_early)
        except ValueError:
            continue
        assert got != data


def test_pdf_hex_strings_and_move_show_operators():
    """Hex strings (<48..> Tj), the move-and-show ' and " operators,
    and hex parts inside TJ arrays all decode; odd-length hex pads a
    trailing 0; composite-font CID text (/Identity-H) gates instead."""
    ops = (
        b"BT /F1 12 Tf 72 720 Td "
        b"<48656C6C6F> Tj "  # 'Hello'
        b"( world) ' "  # move-and-show
        b'0.2 0.1 (!) " '  # aw ac string "
        b"[(mix) -10 <2041 4243>] TJ "  # hex split by whitespace -> ' ABC'
        b"<5> Tj "  # odd digit -> 0x50 'P'
        b"ET"
    )
    blob = (
        b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(ops)).encode()
        + b" >>\nstream\n" + ops + b"\nendstream\nendobj\n%%EOF"
    )
    assert P.decode_pdf_texts(blob) == ["Hello world!mix ABCP"]
    assert P.pdf_unsupported_reason(b"%PDF /Encoding /Identity-H") == "cid-font:Identity-H"


def test_pdf_layout_columns_reading_order():
    """Stream order is interleaved L1 R1 L2 R2; the layout decoder must
    emit left column top-down then right column — and the stream-order
    decoder must NOT (proving the op earns its keep). Relative Td
    tracking and single-column fallback also pinned."""
    from onnxtr_spark.sources import pdf as P

    text = " ".join(f"w{i:02d}" for i in range(24))  # 4 lines of 6 -> 2+2 columns
    blob = P.encode_pdf_columns(text)
    assert " ".join(P.decode_pdf_layout(blob)) == text
    stream_order = P.decode_pdf_texts(blob)[0]
    assert stream_order.replace("w", " w").split() != text.split()  # interleaved
    # relative Td: second line positioned by offset from the first
    import zlib

    body = b"BT /F1 12 Tf 1 0 0 1 72 720 Tm (top line) Tj 0 -14 Td (next line) Tj ET"
    one = P._assemble_pdf([zlib.compress(body)])
    assert P.decode_pdf_layout(one) == ["top line next line"]
