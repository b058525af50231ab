"""Deterministic page imaging: codec + synthetic renderer.

This container has no PIL/cv2/onnxruntime (see README), so the three
opaque-binary layers of the reference pipeline are deterministic fakes,
while every operator around them is real and tested:

1. **Codec** (stands in for PNG encode/decode, reference io/image.py:16-53):
   ``encode_image``/``decode_image`` serialize an H×W×3 uint8 ndarray as
   a tiny self-describing binary blob. The Spark plumbing — BinaryType
   columns, Arrow batches into ``mapInArrow``, per-batch np.stack — is
   identical to what a real PNG codec would need.

2. **Renderer** (stands in for the reference's PIL fixture renderer,
   tests/conftest.py:13-37): draws each word as a machine-decodable glyph
   block — every character is a ``CELL_W``-wide column run whose pixel
   value encodes its vocab index (``CHAR_BASE + idx``), separated by
   ``GAP_W`` columns of ``GAP_VALUE``. Words are separated by white.
   Dark-on-white layout, so a detection probability map is literally
   ``(255 - pixel) / 255`` — which is what the stub "model" in
   engine.py emits.

3. The **stub models** (engine.py) consume/produce the same tensor
   shapes as the reference's ONNX graphs (B×H×W×1 prob maps, N×T×C
   logits) so the real postprocessing kernels (detect_post.py, ctc.py)
   run unchanged.

Geometry contract (why OCR round-trips exactly — see tests):
glyph height 16 px, line step 48 px, word gap 20 px, paragraph gap 64 px;
detection runs on a 512×512 aspect-preserved map, where the unclip
expansion (≤ 0.75·h per side) never reaches a neighboring word or line.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from onnxtr_spark.vocabs import DEFAULT_VOCAB

MAGIC_Z = b"NPIMZ"  # zlib-compressed RGB frames (PNG is zlib too)
MAGIC_S = b"NPIMS"  # grayscale frame stored at 1/f scale + integer
#                     upscale factor (nearest/pixel-replication, the
#                     rasterizer's np.repeat): decode reproduces the
#                     full-resolution pixels exactly while compress/
#                     decompress touch f^2 x fewer bytes
MAGIC_G = b"NPIMG"  # zlib-compressed grayscale frames (PNG color-type-0
# analog): stored when all three channels are identical; decoded as a
# zero-copy broadcast view, 3× less decode traffic and storage

# Glyph geometry (pixels on the source page).
CELL_W = 5  # columns per character glyph
GAP_W = 3  # dark gap columns between characters (part of the word's blob)
CELL_H = 16  # glyph height
WORD_GAP = 20  # white columns between words on a line
PARA_GAP = 64  # white columns marking a paragraph break (>= 0.035 * page_w + dilation)
LINE_STEP = 48  # vertical distance between line tops
MARGIN = 40  # page margin
PAGE_W = 640

# Pixel-value encoding.
CHAR_BASE = 96  # character c -> CHAR_BASE + vocab.index(c); requires len(vocab) < 130
GAP_VALUE = 64
WHITE = 255
# Orientation watermark: intensity 240 -> darkness prob (255-240)/255 ≈
# 0.059 < bin_thresh 0.1, so detection never sees it; the orientation
# classifier stub does (engine.OrientationEngine). Drawn in the page
# margin's top-left corner; after np.rot90(page, k) it sits in corner k.
ORIENT_MARK = 240
MARK_SLICE = (slice(8, 24), slice(8, 24))
# Artefact blocks (I6 path): class c -> pixel value ART_BASE + c.
# 230..233 sit ABOVE the text-detection pixel cutoff (floor(255-25.5) =
# 229, detect_post.postprocess_pixel_map) so artefacts are invisible to
# the text path, below ORIENT_MARK (240), and above the vocab glyph
# range (96+125=221) so a text crop overlapping one decodes blank.
ART_BASE = 230
N_ART_CLASSES = 4


def add_artefacts(page: np.ndarray, arts: list[tuple[int, int, int, int, int]]) -> np.ndarray:
    """Draw artefact blocks [(cls, x0, y0, w, h)] as flat value rects."""
    page = page.copy()
    for cls, x0, y0, w, h in arts:
        page[y0 : y0 + h, x0 : x0 + w] = ART_BASE + cls
    return page


def add_orientation_mark(page: np.ndarray) -> np.ndarray:
    page = page.copy()
    page[MARK_SLICE[0], MARK_SLICE[1]] = ORIENT_MARK
    return page


def detect_orientation(img: np.ndarray) -> int:
    """Which corner holds the watermark -> number of CCW np.rot90 turns
    the page was stored with (0..3); 0 if no mark found."""
    h, w = img.shape[:2]
    ch = img[:, :, 0]
    corners = [  # corner position of the TL mark after rot90(page, k)
        ch[8:24, 8:24],          # k=0: top-left
        ch[h - 24 : h - 8, 8:24],  # k=1: bottom-left
        ch[h - 24 : h - 8, w - 24 : w - 8],  # k=2: bottom-right
        ch[8:24, w - 24 : w - 8],  # k=3: top-right
    ]
    for k, region in enumerate(corners):
        if region.size and (region == ORIENT_MARK).mean() > 0.5:
            return k
    return 0


def encode_image(img: np.ndarray) -> bytes:
    """Serialize an H×W×3 uint8 image (PNG stand-in, zlib-deflated like
    a real PNG — cuts shuffle/Arrow traffic ~30× on document pages)."""
    if img.dtype != np.uint8 or img.ndim != 3 or img.shape[2] != 3:
        raise ValueError("expected H×W×3 uint8")
    h, w, _ = img.shape
    ch0 = img[:, :, 0]
    # stride-0 channel axis (a broadcast grayscale frame): the three
    # channels share one buffer, so the equality scans are true by
    # construction — skip them
    if img.strides[2] == 0 or ((img[:, :, 1] == ch0).all() and (img[:, :, 2] == ch0).all()):
        return MAGIC_G + struct.pack("<II", h, w) + zlib.compress(np.ascontiguousarray(ch0).tobytes(), 1)
    return MAGIC_Z + struct.pack("<II", h, w) + zlib.compress(img.tobytes(), 1)


def encode_image_gray_scaled(ch: np.ndarray, factor: int) -> bytes:
    """Encode a grayscale plane whose full-resolution frame is its
    ``factor``× pixel replication (np.repeat on both axes): store the
    SMALL plane + the factor, so compress/decompress touch factor²×
    fewer bytes. ``decode_image`` reproduces the exact full-resolution
    broadcast frame the replicate-then-encode path produced."""
    if ch.dtype != np.uint8 or ch.ndim != 2:
        raise ValueError("expected H×W uint8 plane")
    if factor <= 1:
        h, w = ch.shape
        return MAGIC_G + struct.pack("<II", h, w) + zlib.compress(np.ascontiguousarray(ch).tobytes(), 1)
    h, w = ch.shape[0] * factor, ch.shape[1] * factor
    return (
        MAGIC_S
        + struct.pack("<III", h, w, factor)
        + zlib.compress(np.ascontiguousarray(ch).tobytes(), 1)
    )


def _header_len(magic: bytes) -> int:
    return 17 if magic == MAGIC_S else 13


def peek_dims(blob: bytes) -> tuple[int, int]:
    """Full-resolution (height, width) from a frame's codec header,
    without inflating the pixels. The magic and the header length are
    checked first: anything that is not a complete header of a known
    frame kind raises ``ValueError("bad image magic")``."""
    magic = blob[:5]
    if magic not in (MAGIC_Z, MAGIC_S, MAGIC_G) or len(blob) < _header_len(magic):
        raise ValueError("bad image magic")
    h, w = struct.unpack("<II", blob[5:13])
    return h, w


def header_dims(blob):
    """``peek_dims`` as JVM Column expressions over a binary Column:
    (height, width) read from the header bytes, no Python pass. A blob
    that is not a complete header of a known frame kind fails the query
    with the same ``bad image magic`` message."""
    from pyspark.sql import functions as F

    magic = F.substring(blob, 1, 5)
    known = F.lit(False)
    for m in (MAGIC_Z, MAGIC_S, MAGIC_G):
        known = known | ((magic == F.lit(m)) & (F.octet_length(blob) >= _header_len(m)))

    def u32(pos: int):
        le = F.conv(F.hex(F.reverse(F.substring(blob, pos, 4))), 16, 10).cast("int")
        return F.when(known, le).otherwise(F.raise_error(F.lit("bad image magic")))

    return u32(6), u32(10)


def decode_image(blob: bytes) -> np.ndarray:
    """Deserialize bytes produced by ``encode_image`` or
    ``encode_image_gray_scaled`` (any frame kind)."""
    h, w = peek_dims(blob)
    magic = blob[:5]
    if magic == MAGIC_G:
        ch = np.frombuffer(zlib.decompress(blob[13:]), dtype=np.uint8).reshape(h, w)
        # read-only zero-copy RGB view (channel stride 0)
        return np.broadcast_to(ch[:, :, None], (h, w, 3))
    if magic == MAGIC_S:
        (f,) = struct.unpack("<I", blob[13:17])
        small = np.frombuffer(zlib.decompress(blob[17:]), dtype=np.uint8).reshape(h // f, w // f)
        # the exact np.repeat upscale the encoder elided
        ch = np.repeat(np.repeat(small, f, axis=0), f, axis=1)
        return np.broadcast_to(ch[:, :, None], (h, w, 3))
    return np.frombuffer(zlib.decompress(blob[13:]), dtype=np.uint8).reshape(h, w, 3)


def word_width(word: str, cell_w: int = CELL_W, gap_w: int = GAP_W) -> int:
    """Rendered pixel width of a word's glyph blob."""
    n = len(word)
    return n * cell_w + (n - 1) * gap_w


def render_page(
    lines: list[list[str]],
    vocab: str = DEFAULT_VOCAB,
    page_w: int = PAGE_W,
    jitter: bool = True,
    para_breaks: set[tuple[int, int]] | None = None,
    cell_w: int = CELL_W,
    gap_w: int = GAP_W,
) -> np.ndarray:
    """Render lines of words onto a white page: an H×W×3 uint8 frame
    that is a READ-ONLY stride-0 broadcast of one grayscale plane
    (writes raise ValueError). Callers that mutate the page must
    ``.copy()`` it first, which gives a writable frame with the same
    values.

    ``para_breaks``: set of (line_idx, word_idx) positions that get a
    paragraph-sized gap *before* the word (exercises the sub-line split).
    Word y-positions get a deterministic ±2 px jitter (exercises the
    running-mean line clustering) unless ``jitter=False``.
    """
    para_breaks = para_breaks or set()
    # Pre-flow words into physical rows, wrapping overflowing lines onto
    # extra rows. Wrapping preserves reading order (line-by-line,
    # left-to-right), which is all the span oracle depends on.
    limit = page_w - MARGIN - MARGIN // 2
    rows: list[list[tuple[int, int, str]]] = []  # (line_idx, word_idx, word)
    for li, words in enumerate(lines):
        x = 0
        row: list[tuple[int, int, str]] = []
        for wi, word in enumerate(words):
            gap = (PARA_GAP if (li, wi) in para_breaks else WORD_GAP) if row else 0
            w_px = word_width(word, cell_w, gap_w)
            if w_px > limit:
                raise ValueError(f"word too wide for page: {word!r}")
            if x + gap + w_px > limit:
                rows.append(row)
                row, x, gap = [], 0, 0
            row.append((li, wi, word))
            x += gap + w_px
        rows.append(row)

    page_h = MARGIN * 2 + (max(len(rows), 1) - 1) * LINE_STEP + CELL_H
    # grayscale draw + read-only RGB broadcast: every value the renderer
    # writes is channel-uniform, so the 3-channel frame is a stride-0
    # view of one plane — 3x less written bytes, and encode_image takes
    # its broadcast fast path. Callers that mutate pages (add_artefacts,
    # add_orientation_mark) .copy() first, which materializes a writable
    # frame with identical values.
    page = np.full((page_h, page_w), WHITE, dtype=np.uint8)

    for ri, row in enumerate(rows):
        x = MARGIN
        y_base = MARGIN + ri * LINE_STEP
        for pos, (li, wi, word) in enumerate(row):
            if pos > 0:
                x += PARA_GAP if (li, wi) in para_breaks else WORD_GAP
            dy = ((li * 31 + wi * 17) % 5) - 2 if jitter else 0
            y = y_base + dy
            w_px = word_width(word, cell_w, gap_w)
            # one write of a cached per-word glyph block instead of two
            # slice writes per character: the block holds exactly the
            # bytes the per-char loop wrote (corpus words repeat
            # heavily, so the cache hit rate is near 1)
            if word:
                block = _word_block(word, vocab, cell_w, gap_w)
                page[y : y + CELL_H, x : x + w_px] = block
            x += w_px
    return np.broadcast_to(page[:, :, None], (page_h, page_w, 3))


_WORD_BLOCK_CACHE: dict[tuple[str, str, int, int], np.ndarray] = {}


def _word_block(word: str, vocab: str, cell_w: int, gap_w: int) -> np.ndarray:
    """(CELL_H, word_width) uint8 glyph block for one word — the exact
    column pattern render_page's per-character loop produced."""
    key = (word, vocab, cell_w, gap_w)
    hit = _WORD_BLOCK_CACHE.get(key)
    if hit is None:
        w_px = word_width(word, cell_w, gap_w)
        block = np.empty((CELL_H, w_px), dtype=np.uint8)
        cx = 0
        for ci, ch in enumerate(word):
            idx = vocab.find(ch)
            if idx < 0:
                raise ValueError(f"character {ch!r} not in vocab")
            if ci > 0:
                block[:, cx : cx + gap_w] = GAP_VALUE
                cx += gap_w
            block[:, cx : cx + cell_w] = CHAR_BASE + idx
            cx += cell_w
        if len(_WORD_BLOCK_CACHE) >= 8192:
            _WORD_BLOCK_CACHE.clear()
        hit = _WORD_BLOCK_CACHE[key] = block
    return hit


def rotate_image_nearest(img: np.ndarray, angle_deg: float, expand: bool = True, fill: int = WHITE) -> np.ndarray:
    """Rotate an image by ``angle_deg`` (positive = counter-clockwise in
    visual terms, i.e. content tilts up to the right with y down),
    expanding the canvas to hold the full rotated content (the G4
    rotate_image analog, reference utils/geometry.py:372-418 — nearest
    sampling instead of cv2 bilinear so glyph pixel VALUES survive
    exactly; the rotated-corpus renderer depends on that).

    Inverse mapping: each output pixel center is rotated back into the
    source frame and sampled nearest; out-of-source pixels get ``fill``.
    """
    h, w = img.shape[:2]
    rad = np.deg2rad(angle_deg)
    cos, sin = np.cos(rad), np.sin(rad)
    if expand:
        out_w = int(np.ceil(abs(w * cos) + abs(h * sin)))
        out_h = int(np.ceil(abs(w * sin) + abs(h * cos)))
    else:
        out_w, out_h = w, h
    # output pixel centers relative to output center (float32: pages are
    # < 2^12 px, so the 2^-23 relative error is far below a pixel); the
    # outer-sum form avoids materializing meshgrid intermediates
    xs = (np.arange(out_w, dtype=np.float32) + np.float32(0.5 - out_w / 2))
    ys = (np.arange(out_h, dtype=np.float32) + np.float32(0.5 - out_h / 2))
    # rotate back: visual CCW rotation of content = apply the inverse
    # (CW) rotation to output coords; y-down flips the usual sign.
    sx = np.float32(cos) * xs[None, :] - np.float32(sin) * ys[:, None] + np.float32(w / 2)
    sy = np.float32(sin) * xs[None, :] + np.float32(cos) * ys[:, None] + np.float32(h / 2)
    xi = np.floor(sx).astype(np.int32)
    yi = np.floor(sy).astype(np.int32)
    # Border-pad gather: a 1-px ``fill`` frame around the source turns
    # the out-of-bounds mask + masked fill (7 boolean passes + a
    # scatter) into the clip that was already being paid — any index
    # outside [0, w) clamps onto the fill border, so the output pixels
    # are identical to the previous inside-mask path by construction.
    padded = np.full((h + 2, w + 2) + img.shape[2:], fill, dtype=img.dtype)
    padded[1:-1, 1:-1] = img
    np.clip(xi, -1, w, out=xi)
    np.clip(yi, -1, h, out=yi)
    xi += 1
    yi += 1
    if img.ndim == 2:
        # flat take beats 2-D fancy indexing (one combined index pass)
        yi *= w + 2
        yi += xi
        return np.take(padded.ravel(), yi)
    return padded[yi, xi]


def synthesize_page(
    words: list[tuple[str, float, float]],
    height: int,
    width: int,
    vocab: str = DEFAULT_VOCAB,
) -> np.ndarray:
    """S9 synthesis sink (reference Page.synthesize,
    io/elements.py:289-298 + utils/reconstitution.py:113-175): draw each
    predicted word back onto a blank page at its box origin.

    ``words``: (text, xmin_rel, ymin_rel) triples. The reference scales
    a TTF to the box; our deterministic renderer has one glyph size, so
    words are drawn at glyph scale anchored at the box's top-left
    (clipped at page edges) — a synthesized page re-OCRs to the same
    span sequence (the fixpoint test).
    """
    page = np.full((height, width, 3), WHITE, dtype=np.uint8)
    for text, xmin, ymin in words:
        x = max(0, int(round(xmin * width)))
        y = max(0, int(round(ymin * height)))
        cx = x
        for ci, ch in enumerate(text):
            idx = vocab.find(ch)
            if idx < 0:
                continue  # unknown char: skip (reference draws font glyphs)
            if ci > 0:
                page[y : y + CELL_H, cx : min(cx + GAP_W, width)] = GAP_VALUE
                cx += GAP_W
            page[y : y + CELL_H, cx : min(cx + CELL_W, width)] = CHAR_BASE + idx
            cx += CELL_W
            if cx >= width:
                break
    return page


def batch_columns_to_classes(batch: np.ndarray, vocab: str = DEFAULT_VOCAB) -> np.ndarray:
    """The stub recognition "model": classify each column of every crop
    in a (B, H, W, C) batch as a vocab index or blank (= len(vocab)).
    The darkest pixel per column recovers the glyph encoding; white,
    gap and pad columns map to the blank class. Returns (B, W) int64
    class ids."""
    blank = len(vocab)
    if batch.size == 0:
        return np.full(batch.shape[:1] + batch.shape[2:3], blank, dtype=np.int64)
    col_min = batch[:, :, :, 0].min(axis=1).astype(np.int64)  # (B, W)
    classes = np.full(col_min.shape, blank, dtype=np.int64)
    is_char = (col_min >= CHAR_BASE) & (col_min < CHAR_BASE + blank)
    classes[is_char] = col_min[is_char] - CHAR_BASE
    return classes


def batch_classes_to_logits(classes: np.ndarray, n_classes: int, peak: float = 12.0) -> np.ndarray:
    """One-hot (B, T, C) logits from a (B, T) class batch: the stub
    model's output tensor, consumed by the real CTC decoder
    (kernels/ctc.py)."""
    b, t = classes.shape
    logits = np.zeros((b, t, n_classes), dtype=np.float32)
    logits[np.arange(b)[:, None], np.arange(t)[None, :], classes] = peak
    return logits
