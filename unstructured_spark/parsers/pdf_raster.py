"""Born-digital page rasterization surrogate + hi_res merge path.

The reference's hi_res route on born-digital PDFs is: rasterize the
page with poppler (``pdf.py:1013-1045``), run the layout model on the
pixels, then merge the model detections with the pdfminer-extracted
text layout (``pdfminer_processing.py:250-410``). Poppler isn't in
this container — but the only thing the layout model actually needs
from the raster is the PAGE GEOMETRY: where ink is. This module
renders a geometry-preserving surrogate raster with pure numpy:

- every text word as a filled dark rectangle at its estimated box
  (baseline/size from the content stream, the same 0.5 em char-width
  heuristic the link matcher and block builder use);
- every embedded image XObject as a mid-gray block.

That is sufficient input for box-predicting layout detectors (the
DocLayNet-style models the reference wires predict regions from ink
distribution); it is NOT glyph-accurate, so OCR agents get nothing
useful from it — which is fine, because for born-digital pages the
TEXT comes from the content stream, not OCR. The full route is then:

    surrogate raster → layout model → scale boxes to PDF points →
    5-rule merge with extracted text blocks (layout_merge's
    _merge_page_cols, the reference's own rules) → typed elements

making ``strategy='hi_res'`` run END-TO-END on born-digital PDFs with
a registered layout model and zero new dependencies. With poppler-real
pixels the same merge path applies unchanged — swap the raster source.
"""

from __future__ import annotations

import numpy as np

TEXT_INK = 40  # near-black text boxes
IMAGE_INK = 150  # mid-gray image blocks
DEFAULT_DPI = 150


def word_boxes(
    runs: list[tuple[float, float, float, str]], page_h: float
) -> list[tuple[float, float, float, float]]:
    """Estimated top-down word boxes (x0, top, x1, bot) from content
    stream runs — 0.5 em char width, 0.7 em ascent above baseline."""
    out = []
    for y, x, size, text in runs:
        td = page_h - y
        cw = 0.5 * size
        pos = 0
        for word in text.split():
            start = text.index(word, pos)
            pos = start + len(word)
            out.append(
                (x + start * cw, td - 0.7 * size, x + pos * cw, td + 0.2 * size)
            )
    return out


def rasterize_page(
    runs: list[tuple[float, float, float, str]],
    page_w: float,
    page_h: float,
    *,
    image_boxes: list[tuple[float, float, float, float]] | None = None,
    dpi: int = DEFAULT_DPI,
) -> tuple[np.ndarray, int, int, float]:
    """White canvas with dark word rects + gray image blocks.

    Returns (HxWx3 uint8 array, width_px, height_px, scale) where
    ``scale`` converts PDF points → pixels (detections divide by it to
    come back to point space).
    """
    scale = dpi / 72.0
    w = max(int(round(page_w * scale)), 1)
    h = max(int(round(page_h * scale)), 1)
    arr = np.full((h, w, 3), 255, dtype=np.uint8)

    def fill(box, value):
        x0, top, x1, bot = box
        c0 = min(max(int(x0 * scale), 0), w)
        c1 = min(max(int(np.ceil(x1 * scale)), 0), w)
        r0 = min(max(int(top * scale), 0), h)
        r1 = min(max(int(np.ceil(bot * scale)), 0), h)
        if c1 > c0 and r1 > r0:
            arr[r0:r1, c0:c1] = value

    for box in image_boxes or []:
        fill(box, IMAGE_INK)
    for box in word_boxes(runs, page_h):
        fill(box, TEXT_INK)
    return arr, w, h, scale


def merge_detections_with_blocks(
    detections: list[dict],
    blocks: list[dict],
    page_w: float,
    page_h: float,
    scale: float,
) -> list[dict]:
    """Scale pixel-space model detections to point space and run the
    reference's 5-rule merge (``layout_merge._merge_page_cols``, the
    rule set the Spark operator runs) against the extracted text
    blocks.

    ``blocks`` are ``_runs_to_blocks`` dicts (text + top-down x0, top,
    x1, bot); output rows carry (kind, text, x1, y1, x2, y2,
    is_extracted) in basic reading order.
    """
    from unstructured_spark.operators.layout_merge import (
        LAYOUT_SAME_REGION_THRESHOLD,
        LAYOUT_SUBREGION_THRESHOLD,
        _merge_page_cols,
    )

    # one page as the merge's column arrays: inferred rows [0, m),
    # extracted rows [m, e)
    m, e = len(detections), len(detections) + len(blocks)
    kind = np.array(
        [d.get("type", "Text") for d in detections] + ["Text"] * len(blocks),
        dtype=object,
    )
    text = np.array(
        [d.get("text") for d in detections] + [b["text"] for b in blocks],
        dtype=object,
    )
    isext = np.array(["false"] * m + ["true"] * len(blocks), dtype=object)
    coords = np.array(
        [[float(d[c]) / scale for c in ("x1", "y1", "x2", "y2")] for d in detections]
        + [[float(b[c]) for c in ("x0", "top", "x1", "bot")] for b in blocks],
        dtype=float,
    ).reshape(e, 4)
    ext_i, inf_i, inf_c, inf_t, inf_x = _merge_page_cols(
        kind, text, isext, coords, 0, m, e, page_w, page_h,
        LAYOUT_SAME_REGION_THRESHOLD, LAYOUT_SUBREGION_THRESHOLD,
    )
    # kept extracted rows, then kept inferred rows (rules 2-3 may have
    # expanded their boxes and taken extracted text)
    out_c = np.concatenate([coords[ext_i], inf_c])
    out_k = np.concatenate([kind[ext_i], kind[inf_i]])
    out_t = np.concatenate([text[ext_i], inf_t])
    out_x = np.concatenate([isext[ext_i], inf_x])
    # basic reading sort (top-left), the reference's sort_text_regions
    order = np.lexsort((out_c[:, 0], out_c[:, 1]))
    rows = [
        {
            "kind": out_k[i],
            "text": out_t[i],
            "is_extracted": out_x[i],
            "x1": float(out_c[i, 0]),
            "y1": float(out_c[i, 1]),
            "x2": float(out_c[i, 2]),
            "y2": float(out_c[i, 3]),
        }
        for i in order
    ]
    # rule 3 expands inferred boxes but (like the reference) drops the
    # absorbed extracted TEXT; the reference refills it with
    # aggregate_embedded_text_by_block — same here, scalar per page
    _aggregate_block_text(rows, blocks)
    return rows


def _aggregate_block_text(
    rows: list[dict], blocks: list[dict], threshold: float = 0.99
) -> None:
    """Fill text-less merged regions with the reading-ordered text of
    the extracted blocks they cover (pixel-inclusive subregion test,
    reference aggregate_embedded_text_by_block semantics)."""

    def inter(a, b):
        return max(min(a[2], b[2]) - max(a[0], b[0]) + 1, 0.0) * max(
            min(a[3], b[3]) - max(a[1], b[1]) + 1, 0.0
        )

    def area(a):
        return (a[2] - a[0] + 1) * (a[3] - a[1] + 1)

    for row in rows:
        if row.get("text"):
            continue
        rbox = (row["x1"], row["y1"], row["x2"], row["y2"])
        covered = [
            b
            for b in blocks
            if inter((b["x0"], b["top"], b["x1"], b["bot"]), rbox)
            > threshold * max(0.01, area((b["x0"], b["top"], b["x1"], b["bot"])))
        ]
        covered.sort(key=lambda b: (b["top"], b["x0"]))
        text = " ".join(b["text"] for b in covered if b["text"]).strip()
        if text:
            row["text"] = text


# ---------------------------------------------------------------------------
# Real-rasterizer plug point (round 5): when a true PDF rasterizer is
# registered (e.g. model_adapters.PdfiumRasterizer — pypdfium2-gated),
# the hi_res merge path runs on real glyph pixels instead of the
# geometry surrogate, and born-digital ocr_only becomes possible (the
# ONE route the surrogate cannot serve, since OCR needs real glyphs —
# reference pdf.py:1013-1045 uses poppler for exactly this).
# Contract: fn(pdf_bytes, page_index_zero_based, dpi) ->
#   (HxWx3 uint8 RGB ndarray, width_px, height_px); dpi=None means
#   "use the DPI the rasterizer was configured with" — the pipeline
#   always passes None so the plug's own setting wins.
# ---------------------------------------------------------------------------

_PDF_RASTERIZER = None


def set_pdf_rasterizer(fn) -> None:
    global _PDF_RASTERIZER
    _PDF_RASTERIZER = fn


def get_pdf_rasterizer():
    return _PDF_RASTERIZER
