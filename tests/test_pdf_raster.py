"""Born-digital hi_res: surrogate raster + 5-rule merge path."""

import numpy as np

from tests.fixtures import pdf_from_objects
from unstructured_spark.parsers.image_parser import set_layout_model
from unstructured_spark.parsers.pdf_parser import pdf_to_elements
from unstructured_spark.parsers.pdf_raster import (
    merge_detections_with_blocks,
    rasterize_page,
    word_boxes,
)

_WORDS = (
    "layout regions merge with extracted text blocks so every page keeps "
    "its reading order while the model supplies region types"
).split()


def _page_stream(title: str, n_lines: int = 42) -> bytes:
    """A 24pt title line, then ``n_lines`` full-width 12pt body lines:
    dense enough that text covers a real share of the page."""
    ops = [b"BT /F1 24 Tf 72 720 Td (%s) Tj /F1 12 Tf 0 -60 Td" % title.encode()]
    for i in range(n_lines):
        line = " ".join(_WORDS[(i + j) % len(_WORDS)] for j in range(12))
        ops.append(b"(%s) Tj 0 -14 Td" % line.encode())
    ops.append(b"ET")
    return b" ".join(ops)


def _born_digital_pdf() -> bytes:
    """Two-page born-digital PDF (612x792pt pages, extractable text)."""
    streams = [_page_stream("Born Digital Layout Study"), _page_stream("Results")]
    font = 3 + 2 * len(streams)
    kids = b" ".join(b"%d 0 R" % (3 + 2 * i) for i in range(len(streams)))
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [%s] /Count %d >>" % (kids, len(streams)),
    ]
    for i, stream in enumerate(streams):
        objs.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents %d 0 R /Resources << /Font << /F1 %d 0 R >> >> >>"
            % (4 + 2 * i, font)
        )
        objs.append(b"<< /Length %d >>\nstream\n%s\nendstream" % (len(stream), stream))
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    return pdf_from_objects(objs)


class TestWordBoxes:
    def test_boxes_follow_runs(self):
        # baseline y=700 in bottom-up coords on a 792pt page → top-down 92
        runs = [(700.0, 72.0, 12.0, "ab cd")]
        [b1, b2] = word_boxes(runs, 792.0)
        # 0.5em char width: 'ab' spans chars 0-2 → x 72..84
        assert b1 == (72.0, 92.0 - 8.4, 84.0, 92.0 + 2.4)
        assert b2[0] == 72.0 + 3 * 6.0  # 'cd' starts after 'ab '


class TestRasterizePage:
    def test_ink_only_under_words(self):
        runs = [(700.0, 72.0, 12.0, "hello")]
        arr, w, h, scale = rasterize_page(runs, 612.0, 792.0, dpi=72)
        assert (w, h, scale) == (612, 792, 1.0)
        # inside the word box: dark; far corner: white
        assert arr[92, 80, 0] < 128
        assert arr[400, 400, 0] == 255

    def test_image_boxes_gray(self):
        arr, w, h, _ = rasterize_page(
            [], 100.0, 100.0, image_boxes=[(10, 10, 50, 50)], dpi=72
        )
        assert arr[30, 30, 0] == 150 and arr[80, 80, 0] == 255

    def test_dpi_scale(self):
        _, w, h, scale = rasterize_page([], 612.0, 792.0, dpi=144)
        assert (w, h) == (1224, 1584) and scale == 2.0


class TestMergeDetections:
    def test_region_absorbs_blocks_and_aggregates_text(self):
        blocks = [
            {"x0": 10, "top": 10, "x1": 100, "bot": 20, "text": "first line"},
            {"x0": 10, "top": 30, "x1": 100, "bot": 40, "text": "second line"},
            {"x0": 10, "top": 500, "x1": 100, "bot": 510, "text": "far away"},
        ]
        dets = [  # pixel space at scale 2: region covering both top blocks
            {"type": "NarrativeText", "x1": 10, "y1": 10, "x2": 220, "y2": 100}
        ]
        rows = merge_detections_with_blocks(dets, blocks, 612.0, 792.0, 2.0)
        agg = [r for r in rows if r["kind"] == "NarrativeText"]
        assert len(agg) == 1
        assert agg[0]["text"] == "first line second line"
        # the uncovered block survives as its own extracted row
        assert any(r["text"] == "far away" and r["is_extracted"] == "true"
                   for r in rows)

    def test_no_detections_keeps_blocks(self):
        blocks = [{"x0": 0, "top": 0, "x1": 50, "bot": 10, "text": "t"}]
        rows = merge_detections_with_blocks([], blocks, 612.0, 792.0, 1.0)
        assert [r["text"] for r in rows] == ["t"]


class TestBornDigitalHiRes:
    def test_end_to_end_real_pdf(self):
        raw = _born_digital_pdf()
        seen = {}

        def fake_layout(arr, w, h):
            seen.setdefault("dims", (w, h))
            seen["ink"] = float((np.asarray(arr) < 128).mean())
            return [
                {"type": "Title", "x1": w * 0.1, "y1": 0,
                 "x2": w * 0.95, "y2": h * 0.12, "score": 0.9},
                {"type": "NarrativeText", "x1": w * 0.05, "y1": h * 0.15,
                 "x2": w * 0.95, "y2": h * 0.95, "score": 0.8},
            ]

        set_layout_model(fake_layout)
        try:
            els = pdf_to_elements(raw, strategy="hi_res")
        finally:
            set_layout_model(None)
        assert els, "born-digital hi_res produced no elements"
        # raster at default 150 dpi over a 612x792pt page
        assert seen["dims"] == (1275, 1650)
        assert 0.05 < seen["ink"] < 0.6  # real text geometry, not blank
        full_text = " ".join(e["text"] for e in els)
        assert "Born Digital Layout Study" in full_text
        # the model's region types survive the merge
        assert any(e["type"] == "Title" for e in els)

    def test_without_model_falls_back_to_fast(self):
        # extractable text + no agents: the strategy table routes
        # hi_res to fast (unchanged behavior), no raster involved
        raw = _born_digital_pdf()
        els = pdf_to_elements(raw, strategy="hi_res")
        assert els and all(e["type"] != "Image" for e in els)


class _FakeRasterizer:
    """Contract-true fake: renders a sentinel-valued page so tests can
    prove real pixels (not the surrogate) reached the agents."""

    def __init__(self, value=200, w=612, h=792):
        self.value, self.w, self.h = value, w, h
        self.calls = []

    def __call__(self, pdf_bytes, page_index, dpi):
        self.calls.append((len(pdf_bytes), page_index, dpi))
        import numpy as _np

        arr = _np.full((self.h, self.w, 3), self.value, dtype=_np.uint8)
        return arr, self.w, self.h


class TestRealRasterizerPlug:
    def test_hi_res_uses_real_pixels_when_registered(self):
        from unstructured_spark.parsers.pdf_raster import set_pdf_rasterizer

        raw = _born_digital_pdf()
        rast = _FakeRasterizer(value=200)
        seen = {}

        def fake_layout(arr, w, h):
            seen["mean"] = float(np.asarray(arr).mean())
            return [
                {"type": "NarrativeText", "x1": 0, "y1": 0,
                 "x2": w, "y2": h, "score": 0.9},
            ]

        set_pdf_rasterizer(rast)
        set_layout_model(fake_layout)
        try:
            els = pdf_to_elements(raw, strategy="hi_res")
        finally:
            set_layout_model(None)
            set_pdf_rasterizer(None)
        assert els
        # the model saw the fake rasterizer's sentinel pixels, not the
        # white-background surrogate
        assert abs(seen["mean"] - 200.0) < 1e-6
        assert rast.calls and rast.calls[0][1] == 0

    def test_born_digital_ocr_only(self):
        # the route that used to raise: no layout model, OCR agent +
        # real rasterizer registered, strategy ocr_only
        from unstructured_spark.parsers.image_parser import set_ocr_agent
        from unstructured_spark.parsers.pdf_raster import set_pdf_rasterizer

        raw = _born_digital_pdf()
        rast = _FakeRasterizer()

        def ocr(arr, w, h):
            return [{"text": f"px{int(arr[0, 0, 0])}",
                     "x1": 10, "y1": 10, "x2": 60, "y2": 30}]

        set_pdf_rasterizer(rast)
        set_ocr_agent(ocr)
        try:
            els = pdf_to_elements(raw, strategy="ocr_only")
        finally:
            set_ocr_agent(None)
            set_pdf_rasterizer(None)
        assert els
        # one element per page, page numbers assigned, sentinel pixels
        assert els[0]["text"] == "px200"
        assert sorted({e["page_number"] for e in els}) == list(
            range(1, len({e["page_number"] for e in els}) + 1)
        )

    def test_without_rasterizer_ocr_only_still_gated(self):
        import pytest

        from unstructured_spark.parsers.image_parser import set_ocr_agent

        raw = _born_digital_pdf()
        set_ocr_agent(lambda a, w, h: [])
        try:
            with pytest.raises(NotImplementedError, match="rasterizer"):
                pdf_to_elements(raw, strategy="ocr_only")
        finally:
            set_ocr_agent(None)
