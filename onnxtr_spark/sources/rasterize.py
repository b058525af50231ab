"""S1's rasterize half: injectable PDF page rasterizer.

The reference rasterizes scanned PDFs with pypdfium2 at scale=2 into
RGB page arrays (io/pdf.py:16-43) and re-enters the image pipeline
(io/reader.py:25-45). pypdfium2 is absent in this container, so —
exactly like the model registry in engine.py — the rasterizer is an
injectable contract resolved per Python worker:

- ``RasterizerConfig`` names the implementation and carries the
  reference's ``scale`` knob (pdf.py:16 ``scale: float = 2``);
- ``RASTERIZER_REGISTRY`` maps name → factory; a deployment with
  pypdfium2 registers ``lambda cfg: Pdfium(cfg)`` via an importable
  module named in ``factory_module`` (shipped with --py-files) and
  nothing else changes;
- the default ``stub_synth`` rasterizer is deterministic: it parses
  the PDF's own content streams (sources/pdf.py) and re-renders the
  text through the synthetic glyph renderer at ``round(scale)``×
  resolution — so the scanned branch's OCR output is span-equal to the
  born-digital parse and the whole pdf→raster→OCR chain is oracled.

Spark surface: ``rasterize_pdf_pages`` is Arrow-batched mapInPandas
over the binary pdf column, emitting one encoded page image per PDF
page — the same (doc_id, offset, media_ref, png) contract the fused
OCR stage consumes. Pages are encoded with the imaging codec (PNG
stand-in), so the scanned branch is byte-compatible with the image
branch downstream.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from onnxtr_spark.corpus import lines
from onnxtr_spark.partitioning import spread


@dataclass(frozen=True)
class RasterizerConfig:
    """Which rasterizer to use and how (reference io/pdf.py:16-25:
    scale, rgb_mode; password/other kwargs would ride alongside)."""

    name: str = "stub_synth"
    scale: float = 2.0  # reference default: 2 ~ 144dpi (io/pdf.py:16)
    factory_module: str | None = None  # executor-side registration hook


RASTERIZER_REGISTRY: dict[str, Callable[[RasterizerConfig], object]] = {}
_RASTERIZERS: dict[tuple, object] = {}


def register_rasterizer(name: str, factory: Callable[[RasterizerConfig], object]) -> None:
    """Register a rasterizer factory (the pypdfium2 injection point)."""
    RASTERIZER_REGISTRY[name] = factory


def get_rasterizer(cfg: RasterizerConfig | None = None):
    """Per-worker cached rasterizer (same resolution discipline as
    engine._resolve: factory_module import, then registry lookup)."""
    cfg = cfg or RasterizerConfig()
    key = (cfg.name, cfg.scale)
    if key not in _RASTERIZERS:
        if cfg.name not in RASTERIZER_REGISTRY and cfg.factory_module:
            import importlib

            importlib.import_module(cfg.factory_module)
        if cfg.name not in RASTERIZER_REGISTRY:
            raise NotImplementedError(
                f"rasterizer {cfg.name!r} is not registered; pypdfium2 is absent in "
                "this container, so a real rasterizer needs a registered factory "
                "(register_rasterizer)."
            )
        _RASTERIZERS[key] = RASTERIZER_REGISTRY[cfg.name](cfg)
    return _RASTERIZERS[key]


class StubSynthRasterizer:
    """Deterministic stand-in for pypdfium2's render loop: content-stream
    text → glyph-rendered page at ``round(scale)``× resolution, H×W×3
    uint8 RGB (the reference's rgb_mode output, io/pdf.py:37-42)."""

    def __init__(self, cfg: RasterizerConfig):
        self.factor = max(1, int(round(cfg.scale)))

    def _pages(self, blob: bytes) -> Iterator[np.ndarray]:
        """The 1× page per PDF page: its content-stream text broken by the
        corpus line rule (``corpus.lines``), rendered by
        ``imaging.render_page``.
        Both render paths scale one grayscale plane, so a page that is
        not a stride-0 broadcast of one raises."""
        from onnxtr_spark import imaging
        from onnxtr_spark.sources.pdf import decode_pdf_texts

        for text in decode_pdf_texts(blob):
            img = imaging.render_page(lines(text.split()))
            if img.strides[2] != 0:
                raise ValueError("render_page returned a page that is not a grayscale broadcast")
            yield img

    def rasterize(self, blob: bytes) -> list[np.ndarray]:
        pages = []
        f = self.factor
        for img in self._pages(blob):
            if f > 1:
                # np.repeat == kron with a ones block (each pixel tiles
                # into an f×f block) at ~10x less cost; upscale the one
                # plane and re-broadcast it
                up0 = np.repeat(np.repeat(img[:, :, 0], f, axis=0), f, axis=1)
                img = np.broadcast_to(up0[:, :, None], up0.shape + (3,))
            pages.append(img)
        return pages

    def rasterize_encoded(self, blob: bytes) -> list[tuple[bytes, int, int]]:
        """(png, height, width) per page with the upscale elided: the
        f× replication is pure pixel repetition, so the encoder stores
        the 1× plane + factor (imaging.encode_image_gray_scaled) and
        ``decode_image`` reproduces the exact full-resolution frame —
        compress/decompress and the upscale materialization drop f²×."""
        from onnxtr_spark import imaging

        f = self.factor
        return [
            (imaging.encode_image_gray_scaled(np.ascontiguousarray(img[:, :, 0]), f),
             img.shape[0] * f, img.shape[1] * f)
            for img in self._pages(blob)
        ]


register_rasterizer("stub_synth", StubSynthRasterizer)

RASTER_PAGES_SCHEMA = "doc_id string, offset int, media_ref string, png binary, height int, width int"


def rasterize_pdf_pages(pdfs: DataFrame, cfg: RasterizerConfig = RasterizerConfig()) -> DataFrame:
    """(doc_id, pdf binary) → one OCR-ready page row per PDF page, the
    fused stage's input contract (doc_id, offset, media_ref, png, h, w).

    Explicit repartition ahead of the Python stage: rasterize cost is
    per-row CPU, and AQE's byte-based coalescing would serialize the
    stage onto one partition for small byte volumes (see BENCH notes).
    """
    pdfs = spread(pdfs)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from onnxtr_spark import imaging

        ras = get_rasterizer(cfg)
        enc = getattr(ras, "rasterize_encoded", None)
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["pdf"]):
                if enc is not None:
                    for p, (png, h, w) in enumerate(enc(bytes(blob))):
                        rows.append({
                            "doc_id": doc_id,
                            "offset": p,
                            "media_ref": f"{doc_id}-{p}",
                            "png": png,
                            "height": h,
                            "width": w,
                        })
                    continue
                for p, img in enumerate(ras.rasterize(bytes(blob))):
                    rows.append({
                        "doc_id": doc_id,
                        "offset": p,
                        "media_ref": f"{doc_id}-{p}",
                        "png": imaging.encode_image(img),
                        "height": img.shape[0],
                        "width": img.shape[1],
                    })
            yield pd.DataFrame(rows, columns=["doc_id", "offset", "media_ref", "png", "height", "width"])

    return pdfs.mapInPandas(run, schema=RASTER_PAGES_SCHEMA)
