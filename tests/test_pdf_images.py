"""PDF embedded-image extraction + scanned hi_res route
(parsers/pdf_images.py) on the reference's real PDF fixtures."""

import base64
import zlib
from pathlib import Path

import pytest

from tests.fixtures import needs
from unstructured_spark.parsers.image_codec import decode_image
from unstructured_spark.parsers.image_parser import set_layout_model, set_ocr_agent
from unstructured_spark.parsers.pdf_images import (
    extract_pdf_images,
    pdf_images_to_elements,
    scanned_pdf_to_elements,
)
from unstructured_spark.parsers.pdf_parser import pdf_to_elements

PDFS = Path("/root/reference/example-docs/pdf")


class TestExtract:
    @needs(PDFS / "embedded-images.pdf")
    def test_jpeg_xobjects(self):
        recs = extract_pdf_images((PDFS / "embedded-images.pdf").read_bytes())
        assert len(recs) == 3
        assert all(r["mime"] == "image/jpeg" and r["decodable"] for r in recs)
        for r in recs:
            w, h, c, px = decode_image(r["data"])
            assert (w, h) == (r["width"], r["height"]) == (325, 325)

    @needs(PDFS / "pdf-with-ocr-text.pdf")
    def test_full_page_scan_extracts(self):
        recs = extract_pdf_images((PDFS / "pdf-with-ocr-text.pdf").read_bytes())
        assert len(recs) == 1
        r = recs[0]
        assert (r["width"], r["height"]) == (1254, 1638)
        w, h, c, px = decode_image(r["data"])
        assert (w, h, c) == (1254, 1638, 1)  # grayscale scan

    def test_flate_bitmap_reencoded_as_png(self):
        pdf = _bitmap_pdf(6, 4)
        recs = extract_pdf_images(pdf)
        assert len(recs) == 1
        assert recs[0]["mime"] == "image/png" and recs[0]["decodable"]
        w, h, c, px = decode_image(recs[0]["data"])
        assert (w, h, c) == (6, 4, 3)

    @needs(PDFS / "embedded-images.pdf")
    def test_image_elements_shape(self):
        els = pdf_images_to_elements((PDFS / "embedded-images.pdf").read_bytes())
        assert len(els) == 3
        assert all(e["type"] == "Image" for e in els)
        assert all(e["image_mime_type"] == "image/jpeg" for e in els)
        raw = base64.b64decode(els[0]["image_base64"])
        assert raw[:3] == b"\xff\xd8\xff"


class TestFastPathWithExtraction:
    @needs(PDFS / "embedded-images.pdf")
    def test_extract_images_kwarg_interleaves(self):
        raw = (PDFS / "embedded-images.pdf").read_bytes()
        plain = pdf_to_elements(raw)
        withimg = pdf_to_elements(raw, extract_images=True)
        imgs = [e for e in withimg if e["type"] == "Image"]
        assert len(withimg) == len(plain) + 3
        assert len(imgs) == 3 and all(e["image_base64"] for e in imgs)


class TestScannedRoute:
    @needs(PDFS / "pdf-with-ocr-text.pdf")
    def test_ocr_only_with_registered_agent(self):
        raw = (PDFS / "pdf-with-ocr-text.pdf").read_bytes()

        def fake_ocr(arr, w, h):
            assert (h, w) == (1638, 1254)  # real decoded scan reaches the agent
            return [{"text": "scanned words", "x1": 10, "y1": 10, "x2": 400, "y2": 40}]

        set_ocr_agent(fake_ocr)
        try:
            els = scanned_pdf_to_elements(raw)
        finally:
            set_ocr_agent(None)
        assert [e["text"] for e in els] == ["scanned words"]
        assert els[0]["page_number"] == 1

    @needs(PDFS / "pdf-with-ocr-text.pdf")
    def test_pdf_to_elements_routes_hires_via_agents(self):
        raw = (PDFS / "pdf-with-ocr-text.pdf").read_bytes()
        set_layout_model(
            lambda a, w, h: [
                {"type": "NarrativeText", "x1": 0, "y1": 0, "x2": w - 1, "y2": h - 1,
                 "text": "whole page"}
            ]
        )
        set_ocr_agent(lambda a, w, h: [])
        try:
            els = pdf_to_elements(raw, strategy="hi_res")
        finally:
            set_layout_model(None)
            set_ocr_agent(None)
        assert [e["text"] for e in els] == ["whole page"]

    @needs(PDFS / "pdf-with-ocr-text.pdf")
    def test_hires_without_agents_falls_back_to_fast(self):
        # reference strategies.py fallback: hi_res without inference →
        # fast when the text layer is extractable (this scan has OCR text)
        raw = (PDFS / "pdf-with-ocr-text.pdf").read_bytes()
        els = pdf_to_elements(raw, strategy="hi_res")
        assert els and all(e["type"] != "Image" for e in els)

    def test_gate_without_agents_and_no_text(self):
        # no text layer + no agents: the decision table itself errors
        with pytest.raises(ValueError, match="not extractable"):
            pdf_to_elements(_bitmap_pdf(6, 4), strategy="hi_res")

    def test_scanned_route_on_textless_pdf_with_agents(self):
        set_ocr_agent(lambda a, w, h: [{"text": "pixels seen", "x1": 0, "y1": 0, "x2": 5, "y2": 3}])
        try:
            els = pdf_to_elements(_bitmap_pdf(6, 4), strategy="auto")
        finally:
            set_ocr_agent(None)
        assert [e["text"] for e in els] == ["pixels seen"]


def _bitmap_pdf(w: int, h: int) -> bytes:
    """Minimal one-page PDF with a Flate DeviceRGB image XObject."""
    px = bytes((x * 40) % 256 for x in range(w * h * 3))
    img = zlib.compress(px)
    objs = [
        b"<</Type/Catalog/Pages 2 0 R>>",
        b"<</Type/Pages/Kids[3 0 R]/Count 1>>",
        b"<</Type/Page/Parent 2 0 R/MediaBox[0 0 612 792]"
        b"/Resources<</XObject<</Im0 4 0 R>>>>>>",
        b"<</Type/XObject/Subtype/Image/Width %d/Height %d"
        b"/ColorSpace/DeviceRGB/BitsPerComponent 8/Filter/FlateDecode"
        b"/Length %d>>" % (w, h, len(img)),
    ]
    out = bytearray(b"%PDF-1.4\n")
    for i, o in enumerate(objs, 1):
        out += b"%d 0 obj\n%s\n" % (i, o)
        if i == 4:
            out += b"stream\n" + img + b"\nendstream\n"
        out += b"endobj\n"
    out += b"trailer<</Root 1 0 R>>\n%%EOF"
    return bytes(out)


class TestOneBit:
    def test_one_bit_gray_bitmap(self):
        import numpy as np

        w, h = 10, 4
        row_bytes = (w + 7) // 8
        bits = np.zeros((h, row_bytes * 8), dtype=np.uint8)
        bits[:, ::2] = 1  # vertical stripes
        px = np.packbits(bits, axis=1).tobytes()
        img = zlib.compress(px)
        objs = [
            b"<</Type/Catalog/Pages 2 0 R>>",
            b"<</Type/Pages/Kids[3 0 R]/Count 1>>",
            b"<</Type/Page/Parent 2 0 R/MediaBox[0 0 612 792]"
            b"/Resources<</XObject<</Im0 4 0 R>>>>>>",
            b"<</Type/XObject/Subtype/Image/Width %d/Height %d"
            b"/ColorSpace/DeviceGray/BitsPerComponent 1/Filter/FlateDecode"
            b"/Length %d>>" % (w, h, len(img)),
        ]
        out = bytearray(b"%PDF-1.4\n")
        for i, o in enumerate(objs, 1):
            out += b"%d 0 obj\n%s\n" % (i, o)
            if i == 4:
                out += b"stream\n" + img + b"\nendstream\n"
            out += b"endobj\n"
        out += b"trailer<</Root 1 0 R>>\n%%EOF"
        recs = extract_pdf_images(bytes(out))
        assert len(recs) == 1 and recs[0]["decodable"]
        dw, dh, dc, dpx = decode_image(recs[0]["data"])
        assert (dw, dh, dc) == (10, 4, 1)
        assert dpx[0] == 255 and dpx[1] == 0  # stripes survived

    @needs(PDFS / "single_table.pdf")
    def test_icc_based_rgb_bitmap(self):
        from pathlib import Path

        recs = extract_pdf_images(
            Path("/root/reference/example-docs/pdf/single_table.pdf").read_bytes()
        )
        dec = [r for r in recs if r["decodable"]]
        assert dec and dec[0]["mime"] == "image/png"
        w, h, c, px = decode_image(dec[0]["data"])
        assert (w, h, c) == (158, 767, 3)  # ICCBased /N 3


def _obj_pdf(objs: list[bytes], stream_for: dict[int, bytes]) -> bytes:
    out = bytearray(b"%PDF-1.4\n")
    for i, o in enumerate(objs, 1):
        out += b"%d 0 obj\n%s\n" % (i, o)
        if i in stream_for:
            out += b"stream\n" + stream_for[i] + b"\nendstream\n"
        out += b"endobj\n"
    out += b"trailer<</Root 1 0 R>>\n%%EOF"
    return bytes(out)


class TestFiltersAndPredictors:
    def test_png_predictor_flate_bitmap(self):
        import numpy as np

        w, h = 5, 3
        px = bytes((x * 17) % 256 for x in range(w * h * 3))
        # encode with PNG Up filter (type 2) rows
        rows = np.frombuffer(px, np.uint8).reshape(h, w * 3).astype(np.int16)
        filtered = bytearray()
        prev = np.zeros(w * 3, np.int16)
        for r in rows:
            filtered.append(2)
            filtered += ((r - prev) % 256).astype(np.uint8).tobytes()
            prev = r
        img = zlib.compress(bytes(filtered))
        pdf = _obj_pdf(
            [
                b"<</Type/Catalog/Pages 2 0 R>>",
                b"<</Type/Pages/Kids[3 0 R]/Count 1>>",
                b"<</Type/Page/Parent 2 0 R/Resources<</XObject<</Im0 4 0 R>>>>>>",
                b"<</Type/XObject/Subtype/Image/Width 5/Height 3"
                b"/ColorSpace/DeviceRGB/BitsPerComponent 8/Filter/FlateDecode"
                b"/DecodeParms<</Predictor 12/Colors 3/Columns 5>>"
                b"/Length %d>>" % len(img),
            ],
            {4: img},
        )
        recs = extract_pdf_images(pdf)
        assert recs[0]["decodable"]
        assert recs[0]["pixels"] == (3, px)  # predictor undone exactly

    def test_tiff_predictor(self):
        import numpy as np

        w, h = 4, 2
        px = bytes((x * 31) % 256 for x in range(w * h * 3))
        arr = np.frombuffer(px, np.uint8).reshape(h, w, 3).astype(np.int16)
        diff = arr.copy()
        diff[:, 1:, :] = (arr[:, 1:, :] - arr[:, :-1, :]) % 256
        img = zlib.compress(diff.astype(np.uint8).tobytes())
        pdf = _obj_pdf(
            [
                b"<</Type/Catalog/Pages 2 0 R>>",
                b"<</Type/Pages/Kids[3 0 R]/Count 1>>",
                b"<</Type/Page/Parent 2 0 R/Resources<</XObject<</Im0 4 0 R>>>>>>",
                b"<</Type/XObject/Subtype/Image/Width 4/Height 2"
                b"/ColorSpace/DeviceRGB/BitsPerComponent 8/Filter/FlateDecode"
                b"/DecodeParms<</Predictor 2/Colors 3/Columns 4>>"
                b"/Length %d>>" % len(img),
            ],
            {4: img},
        )
        recs = extract_pdf_images(pdf)
        assert recs[0]["decodable"]
        assert recs[0]["pixels"] == (3, px)

    def test_form_xobject_nested_image(self):
        px = bytes(range(48)) * 1
        img = zlib.compress(px)
        pdf = _obj_pdf(
            [
                b"<</Type/Catalog/Pages 2 0 R>>",
                b"<</Type/Pages/Kids[3 0 R]/Count 1>>",
                b"<</Type/Page/Parent 2 0 R/Resources<</XObject<</Fm0 5 0 R>>>>>>",
                b"<</Type/XObject/Subtype/Image/Width 4/Height 4"
                b"/ColorSpace/DeviceRGB/BitsPerComponent 8/Filter/FlateDecode"
                b"/Length %d>>" % len(img),
                b"<</Type/XObject/Subtype/Form/BBox[0 0 10 10]"
                b"/Resources<</XObject<</Im0 4 0 R>>>>/Length 0>>",
            ],
            {4: img, 5: b""},
        )
        recs = extract_pdf_images(pdf)
        assert len(recs) == 1 and recs[0]["decodable"]
        assert recs[0]["pixels"] == (3, px)

    def test_unsupported_prefilter_marks_undecodable(self):
        pdf = _obj_pdf(
            [
                b"<</Type/Catalog/Pages 2 0 R>>",
                b"<</Type/Pages/Kids[3 0 R]/Count 1>>",
                b"<</Type/Page/Parent 2 0 R/Resources<</XObject<</Im0 4 0 R>>>>>>",
                b"<</Type/XObject/Subtype/Image/Width 4/Height 4"
                b"/Filter[/JBIG2Decode/DCTDecode]/BitsPerComponent 8/Length 4>>",
            ],
            {4: b"\x00\x00\x00\x00"},
        )
        recs = extract_pdf_images(pdf)
        assert recs and not recs[0]["decodable"]
        assert recs[0]["mime"] == "application/octet-stream"

    def test_corrupt_page_isolated_in_scanned_route(self):
        # page 1 good bitmap, page 2 bogus "jpeg" marked via DCT with
        # baseline-looking header but truncated body
        good = zlib.compress(bytes(48))
        fake_jpeg = b"\xff\xd8\xff\xc0\x00\x0b\x08\x00\x04\x00\x04\x01\x01\x11\x00\xff\xda"
        pdf = _obj_pdf(
            [
                b"<</Type/Catalog/Pages 2 0 R>>",
                b"<</Type/Pages/Kids[3 0 R 5 0 R]/Count 2>>",
                b"<</Type/Page/Parent 2 0 R/Resources<</XObject<</Im0 4 0 R>>>>>>",
                b"<</Type/XObject/Subtype/Image/Width 4/Height 4"
                b"/ColorSpace/DeviceRGB/BitsPerComponent 8/Filter/FlateDecode"
                b"/Length %d>>" % len(good),
                b"<</Type/Page/Parent 2 0 R/Resources<</XObject<</Im1 6 0 R>>>>>>",
                b"<</Type/XObject/Subtype/Image/Width 4/Height 4"
                b"/Filter/DCTDecode/BitsPerComponent 8/Length %d>>" % len(fake_jpeg),
            ],
            {4: good, 6: fake_jpeg},
        )
        set_ocr_agent(lambda a, w, h: [{"text": "ok", "x1": 0, "y1": 0, "x2": 3, "y2": 3}])
        try:
            els = scanned_pdf_to_elements(pdf)
        finally:
            set_ocr_agent(None)
        assert [e["page_number"] for e in els] == [1]  # page 2 skipped, not fatal


class TestScannedGolden:
    """Fidelity pin for the scanned hi_res route on a REAL reference
    scan (pdf-with-ocr-text.pdf, one 1254x1638 full-page image):
    deterministic fake agents derive their boxes from the decoded pixel
    dimensions, so the golden covers XObject extraction, pixel decode,
    OCR aggregation into detections, the uncovered-region supplement,
    XY-cut ordering and coordinate metadata end-to-end."""

    GOLDEN = Path(__file__).parent / "goldens" / "scanned_pdf_golden.json"

    @staticmethod
    def _layout_model(arr, w, h):
        # title band on top, body block below — plus mean-pixel in the
        # text so the golden also pins the decoded pixel content
        mean = int(arr.mean())
        return [
            {"type": "Title", "x1": w * 0.1, "y1": h * 0.05,
             "x2": w * 0.9, "y2": h * 0.12, "score": 0.9,
             "text": f"mean={mean}"},
            {"type": "NarrativeText", "x1": w * 0.1, "y1": h * 0.2,
             "x2": w * 0.9, "y2": h * 0.7, "score": 0.8},
        ]

    @staticmethod
    def _ocr_agent(arr, w, h):
        words = []
        # two lines inside the body block (aggregated into it)
        for line in range(2):
            for col in range(3):
                words.append({
                    "text": f"w{line}{col}",
                    "x1": w * (0.15 + 0.2 * col),
                    "y1": h * (0.25 + 0.1 * line),
                    "x2": w * (0.15 + 0.2 * col) + w * 0.1,
                    "y2": h * (0.25 + 0.1 * line) + h * 0.03,
                })
        # one word outside every detection (supplement path)
        words.append({"text": "footer", "x1": w * 0.4, "y1": h * 0.9,
                      "x2": w * 0.6, "y2": h * 0.93})
        return words

    @needs(PDFS / "pdf-with-ocr-text.pdf")
    def test_matches_checked_in_golden(self):
        import json

        raw = (PDFS / "pdf-with-ocr-text.pdf").read_bytes()
        set_layout_model(self._layout_model)
        set_ocr_agent(self._ocr_agent)
        try:
            els = scanned_pdf_to_elements(raw)
        finally:
            set_layout_model(None)
            set_ocr_agent(None)
        got = json.dumps(els, indent=1, sort_keys=True, ensure_ascii=False)
        if not self.GOLDEN.exists():
            self.GOLDEN.write_text(got, encoding="utf-8")
            pytest.fail("golden written; re-run to compare")
        assert got == self.GOLDEN.read_text(encoding="utf-8")
