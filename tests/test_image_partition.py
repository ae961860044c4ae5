"""partition_image end-to-end with injectable layout/OCR agents
(parsers/image_parser.py) and the pluggable translate hook. The model
calls are fakes; the decode, OCR-merge, supplement, and reading-order
stages are the real reference semantics (pdf.py:779-1106,
ocr.py:373-491)."""

import pytest
from pyspark.sql import functions as F

from unstructured_spark.parsers.dispatch import UnsupportedFormatError, partition_bytes
from unstructured_spark.parsers.image_codec import encode_png
from unstructured_spark.parsers.image_parser import set_layout_model, set_ocr_agent


def _png(w=200, h=100) -> bytes:
    return encode_png(w, h, 3, bytearray([200] * (w * h * 3)))


def _fake_layout(arr, w, h):
    assert arr.shape == (h, w, 3)  # agents receive real decoded pixels
    return [
        {"type": "Section-header", "x1": 10, "y1": 5, "x2": 190, "y2": 25, "score": 0.9},
        {"type": "NarrativeText", "x1": 10, "y1": 40, "x2": 190, "y2": 90, "score": 0.8},
    ]


def _fake_ocr(arr, w, h):
    return [
        {"text": "Big", "x1": 12, "y1": 8, "x2": 60, "y2": 22},
        {"text": "Title", "x1": 65, "y1": 8, "x2": 120, "y2": 22},
        {"text": "body", "x1": 12, "y1": 45, "x2": 60, "y2": 60},
        {"text": "words", "x1": 12, "y1": 65, "x2": 60, "y2": 80},
        {"text": "stray", "x1": 150, "y1": 92, "x2": 190, "y2": 99},  # outside boxes
    ]


@pytest.fixture
def agents():
    set_layout_model(_fake_layout)
    set_ocr_agent(_fake_ocr)
    yield
    set_layout_model(None)
    set_ocr_agent(None)


class TestGate:
    def test_without_agents_raises(self):
        set_layout_model(None)
        set_ocr_agent(None)
        with pytest.raises(UnsupportedFormatError, match="layout/OCR"):
            partition_bytes(_png(), filename="x.png")


class TestHiResPipeline:
    def test_end_to_end_png(self, agents):
        els = partition_bytes(_png(), filename="scan.png")
        assert [e["type"] for e in els] == ["Title", "NarrativeText", "Text"]
        assert els[0]["text"] == "Big Title"  # OCR words aggregated into box
        assert els[1]["text"] == "body words"
        assert els[2]["text"] == "stray"  # uncovered OCR region supplemented
        assert els[0]["coordinates"]["system"] == "PixelSpace"
        assert els[0]["coordinates"]["layout_width"] == 200.0
        assert els[0]["filetype"] == "image/png"

    def test_detection_text_wins_over_ocr(self, agents):
        set_layout_model(
            lambda a, w, h: [
                {"type": "Table", "x1": 0, "y1": 0, "x2": 199, "y2": 99, "text": "preset"}
            ]
        )
        els = partition_bytes(_png(), filename="t.png")
        assert els[0]["type"] == "Table"
        assert els[0]["text"] == "preset"

    def test_ocr_only_mode(self):
        set_layout_model(None)
        set_ocr_agent(_fake_ocr)
        try:
            els = partition_bytes(_png(), filename="o.png")
        finally:
            set_ocr_agent(None)
        # no layout boxes: every OCR word becomes a supplemented region
        assert len(els) == 5
        assert {e["type"] for e in els} == {"Text"}

    def test_reading_order_xy_cut(self, agents):
        # two columns: right-top box must come after left column boxes
        set_layout_model(
            lambda a, w, h: [
                {"type": "Text", "x1": 110, "y1": 5, "x2": 190, "y2": 95, "text": "right"},
                {"type": "Text", "x1": 10, "y1": 5, "x2": 90, "y2": 45, "text": "left-top"},
                {"type": "Text", "x1": 10, "y1": 55, "x2": 90, "y2": 95, "text": "left-bottom"},
            ]
        )
        set_ocr_agent(lambda a, w, h: [])
        els = partition_bytes(_png(), filename="cols.png")
        assert [e["text"] for e in els] == ["left-top", "left-bottom", "right"]

    def test_gif_and_bmp_route(self, agents):
        from tests.fixtures import REFERENCE, make_bmp

        raws = [make_bmp(201, 100)]
        bmp_24 = REFERENCE / "example-docs/img/bmp_24.bmp"
        if bmp_24.exists():
            raws.append(bmp_24.read_bytes())
        for raw in raws:
            els = partition_bytes(raw, filename="img.bmp")
            assert els and els[0]["filetype"] == "image/bmp"


class TestTranslateHook:
    def test_unregistered_raises(self, spark):
        from unstructured_spark.functions import cleaners

        cleaners.set_translator(None)
        with pytest.raises(NotImplementedError, match="set_translator"):
            cleaners.translate_text(F.col("text"))

    def test_registered_runs_as_pandas_udf(self, spark):
        from unstructured_spark.functions import cleaners

        cleaners.set_translator(lambda texts, lang: [f"[{lang}] {t}" for t in texts])
        try:
            df = spark.createDataFrame([("hola",), ("bonjour",)], "text string")
            out = [
                r["t"]
                for r in df.select(
                    cleaners.translate_text(F.col("text"), "en").alias("t")
                ).collect()
            ]
        finally:
            cleaners.set_translator(None)
        assert out == ["[en] hola", "[en] bonjour"]


class TestTableStructureSupplement:
    def test_cells_to_html(self):
        from unstructured_spark.parsers.image_parser import cells_to_html

        cells = [
            {"row": 0, "col": 0, "text": "H1", "is_header": True},
            {"row": 0, "col": 1, "text": "H2", "is_header": True},
            {"row": 1, "col": 0, "text": "a", "row_span": 2},
            {"row": 1, "col": 1, "text": "b"},
            {"row": 2, "col": 1, "text": "c", "col_span": 2},
        ]
        html = cells_to_html(cells)
        assert html == (
            "<table><thead><tr><th>H1</th><th>H2</th></tr></thead>"
            '<tbody><tr><td rowspan="2">a</td><td>b</td></tr>'
            '<tr><td colspan="2">c</td></tr></tbody></table>'
        )
        assert cells_to_html([]) == ""

    def test_cells_to_html_escapes_markup(self):
        # OCR text containing markup chars must not break text_as_html
        # (ADVICE r4): escaped like the xlsx/docx renderers
        from unstructured_spark.parsers.image_parser import cells_to_html

        html = cells_to_html(
            [{"row": 0, "col": 0, "text": "a<b & c>d"}]
        )
        assert html == (
            "<table><tbody><tr><td>a&lt;b &amp; c&gt;d</td></tr></tbody></table>"
        )

    def test_empty_ocr_table_with_html_survives(self):
        # a Table whose OCR text is empty but whose structure model
        # produced text_as_html must not be dropped (ADVICE r4)
        import numpy as np

        from unstructured_spark.parsers.image_parser import (
            elements_from_pixels,
            set_layout_model,
            set_ocr_agent,
            set_table_model,
        )

        set_layout_model(
            lambda a, w, h: [
                {"type": "Table", "x1": 50, "y1": 50, "x2": 250, "y2": 150}
            ]
        )
        # no OCR tokens land inside the table -> empty text
        set_ocr_agent(
            lambda a, w, h: [
                {"text": "elsewhere", "x1": 300, "y1": 300, "x2": 340, "y2": 320}
            ]
        )
        set_table_model(lambda crop, tokens: [{"row": 0, "col": 0, "text": "x"}])
        try:
            els = elements_from_pixels(
                np.zeros((400, 400, 3), dtype=np.uint8), 400, 400
            )
        finally:
            set_layout_model(None)
            set_ocr_agent(None)
            set_table_model(None)
        [table] = [e for e in els if e["type"] == "Table"]
        assert table["text"] == ""
        assert table["text_as_html"] == (
            "<table><tbody><tr><td>x</td></tr></tbody></table>"
        )

    def test_pipeline_attaches_text_as_html(self):
        import numpy as np

        from unstructured_spark.parsers.image_parser import (
            elements_from_pixels,
            set_layout_model,
            set_ocr_agent,
            set_table_model,
        )

        seen = {}

        def layout(arr, w, h):
            return [{"type": "Table", "x1": 50, "y1": 50, "x2": 250, "y2": 150}]

        def ocr(arr, w, h):
            return [
                {"text": "v1", "x1": 60, "y1": 60, "x2": 90, "y2": 80},
                {"text": "outside", "x1": 300, "y1": 300, "x2": 340, "y2": 320},
            ]

        def table_model(crop, tokens):
            seen["crop"] = crop.shape
            seen["tokens"] = tokens
            return [{"row": 0, "col": 0, "text": tokens[0]["text"]}]

        set_layout_model(layout)
        set_ocr_agent(ocr)
        set_table_model(table_model)
        try:
            els = elements_from_pixels(
                np.zeros((400, 400, 3), dtype=np.uint8), 400, 400
            )
        finally:
            set_layout_model(None)
            set_ocr_agent(None)
            set_table_model(None)
        [table] = [e for e in els if e["type"] == "Table"]
        assert table["text_as_html"] == (
            "<table><tbody><tr><td>v1</td></tr></tbody></table>"
        )
        # crop padded by 12px each side: (150-50+24, 250-50+24, 3)
        assert seen["crop"] == (124, 224, 3)
        # only the contained token, in crop-relative coords
        assert len(seen["tokens"]) == 1
        assert seen["tokens"][0]["x1"] == 60 - (50 - 12)

    def test_no_table_model_no_html(self):
        import numpy as np

        from unstructured_spark.parsers.image_parser import (
            elements_from_pixels,
            set_layout_model,
            set_ocr_agent,
        )

        set_layout_model(lambda a, w, h: [
            {"type": "Table", "x1": 0, "y1": 0, "x2": 50, "y2": 50}])
        set_ocr_agent(lambda a, w, h: [
            {"text": "x", "x1": 5, "y1": 5, "x2": 15, "y2": 15}])
        try:
            els = elements_from_pixels(
                np.zeros((100, 100, 3), dtype=np.uint8), 100, 100
            )
        finally:
            set_layout_model(None)
            set_ocr_agent(None)
        assert all("text_as_html" not in e for e in els)
