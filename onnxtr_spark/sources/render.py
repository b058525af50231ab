"""S3's render half: injectable HTML→PDF renderer.

The reference's ``read_html`` renders a page to PDF bytes with
weasyprint and re-enters the PDF pipeline (io/html.py:11-26:
``HTML(url).write_pdf()``). weasyprint is absent in this container,
so — exactly like the rasterizer seam in sources/rasterize.py and the
model registry in engine.py — the renderer is an injectable contract
resolved per Python worker:

- ``HtmlRendererConfig`` names the implementation; a deployment with
  weasyprint registers ``lambda cfg: Weasy(cfg)`` via an importable
  module named in ``factory_module`` (shipped with --py-files) and
  nothing else changes;
- the contract is ``render(html: str) -> bytes`` (PDF bytes), the
  write_pdf shape;
- the default ``stub_weasy`` renderer is deterministic: it strips the
  boilerplate with the SAME tag algebra as sources/html.py (a Python
  mirror of the regexp chain) and encodes the main content as a real
  PDF with one page per corpus page (sources/pdf.encode_pdf_pages) —
  so the whole html→pdf→raster→OCR chain is span-equal to the direct
  JVM strip and fully oracled.

Spark surface: ``render_html_pdfs`` is Arrow-batched mapInPandas over
an html string column, emitting (doc_id, pdf binary) — the exact input
contract of sources/rasterize.rasterize_pdf_pages, which is how the
rendered branch re-enters S1 just like the reference.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame

from onnxtr_spark.sources.html import _DROP_BLOCKS, _ENTITIES
from onnxtr_spark.partitioning import spread


@dataclass(frozen=True)
class HtmlRendererConfig:
    """Which renderer to use (reference io/html.py:11-26: weasyprint's
    write_pdf; page-size/css kwargs would ride alongside)."""

    name: str = "stub_weasy"
    factory_module: str | None = None  # executor-side registration hook


HTML_RENDERER_REGISTRY: dict[str, Callable[[HtmlRendererConfig], object]] = {}
_RENDERERS: dict[tuple, object] = {}


def register_html_renderer(name: str, factory: Callable[[HtmlRendererConfig], object]) -> None:
    """Register a renderer factory (the weasyprint injection point)."""
    HTML_RENDERER_REGISTRY[name] = factory


def get_html_renderer(cfg: HtmlRendererConfig | None = None):
    """Per-worker cached renderer (same resolution discipline as
    engine._resolve: factory_module import, then registry lookup)."""
    cfg = cfg or HtmlRendererConfig()
    key = (cfg.name,)
    if key not in _RENDERERS:
        if cfg.name not in HTML_RENDERER_REGISTRY and cfg.factory_module:
            import importlib

            importlib.import_module(cfg.factory_module)
        if cfg.name not in HTML_RENDERER_REGISTRY:
            raise NotImplementedError(
                f"html renderer {cfg.name!r} is not registered; weasyprint is absent "
                "in this container, so a real renderer needs a registered factory "
                "(register_html_renderer)."
            )
        _RENDERERS[key] = HTML_RENDERER_REGISTRY[cfg.name](cfg)
    return _RENDERERS[key]


def strip_html_py(html: str) -> str:
    """Python mirror of sources/html.html_main_text — the identical
    rule chain (drop boilerplate containers, strip tags, decode
    entities, collapse whitespace), so the rendered branch's content is
    bit-equal to the JVM strip."""
    c = html
    for tag in _DROP_BLOCKS:
        c = re.sub(f"(?s)<{tag}\\b[^>]*>.*?</{tag}>", " ", c)
    c = re.sub("<[^>]+>", " ", c)
    for ent, ch in _ENTITIES:
        c = c.replace(ent, ch)
    return re.sub(r"\s+", " ", c).strip()


class StubWeasyRenderer:
    """Deterministic stand-in for weasyprint's write_pdf: main-content
    strip → a real FlateDecode PDF with one page per corpus page
    (sources/pdf.encode_pdf_pages)."""

    def __init__(self, cfg: HtmlRendererConfig):
        self.cfg = cfg

    def render(self, html: str) -> bytes:
        from onnxtr_spark.sources.pdf import encode_pdf_pages

        return encode_pdf_pages([w for w in strip_html_py(html).split(" ") if w])


register_html_renderer("stub_weasy", StubWeasyRenderer)

RENDER_PDF_SCHEMA = "doc_id string, pdf binary"


def render_html_pdfs(htmls: DataFrame, cfg: HtmlRendererConfig = HtmlRendererConfig()) -> DataFrame:
    """(doc_id, html string) → (doc_id, pdf binary): one rendered PDF
    per document, ready for rasterize_pdf_pages (the reference's
    read_html → read_pdf chain, io/html.py + io/pdf.py).

    Explicit repartition ahead of the Python stage: render cost is
    per-row CPU, and AQE's byte-based coalescing would serialize the
    stage onto one partition for small byte volumes (see BENCH notes).
    """
    htmls = spread(htmls)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        renderer = get_html_renderer(cfg)
        for pdf in batches:
            if pdf.empty:
                continue
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "pdf": [renderer.render(h) for h in pdf["html"]],
            })

    return htmls.mapInPandas(run, schema=RENDER_PDF_SCHEMA)
