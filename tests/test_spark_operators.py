"""End-to-end Spark operator tests: partition pipeline, cleaners,
serde round-trip."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests import fixtures
from unstructured_spark.functions import cleaners
from unstructured_spark.operators.partition_auto import partition_documents
from unstructured_spark.operators.serde import (
    elements_to_markdown,
    filter_element_types,
    read_elements_json,
    write_elements_csv,
    write_elements_json,
)


@pytest.fixture(scope="module")
def docs_df(spark):
    rows = [
        ("doc-text", "a.txt", fixtures.FAKE_TEXT.encode(), None),
        ("doc-html", "b.html", fixtures.FAKE_HTML.encode(), None),
        ("doc-csv", "c.csv", fixtures.FAKE_CSV.encode(), None),
        ("doc-md", "d.md", fixtures.FAKE_MD.encode(), None),
        ("doc-eml", "e.eml", fixtures.FAKE_EMAIL.encode(), "message/rfc822"),
        ("doc-empty", "f.txt", b"", None),
        ("doc-pdf", "g.pdf", b"%PDF-1.7 unparseable", None),
    ]
    return spark.createDataFrame(
        rows, "doc_id string, path string, content binary, content_type string"
    )


@pytest.fixture(scope="module")
def elements(spark, docs_df):
    return partition_documents(docs_df).collect()


class TestPartitionDocuments:
    def test_all_supported_docs_partitioned(self, elements):
        doc_ids = {r["doc_id"] for r in elements}
        assert doc_ids == {"doc-text", "doc-html", "doc-csv", "doc-md", "doc-eml"}

    def test_unsupported_skipped_not_failed(self, elements):
        assert not any(r["doc_id"] == "doc-pdf" for r in elements)

    def test_element_order_dense(self, elements):
        html_els = sorted(
            (r for r in elements if r["doc_id"] == "doc-html"),
            key=lambda r: r["element_index"],
        )
        assert [r["element_index"] for r in html_els] == list(range(len(html_els)))
        assert html_els[0]["type"] == "Header"

    def test_hash_ids_deterministic(self, spark, docs_df, elements):
        again = partition_documents(docs_df).collect()
        ids1 = sorted(r["element_id"] for r in elements)
        ids2 = sorted(r["element_id"] for r in again)
        assert ids1 == ids2
        assert all(len(i) == 32 for i in ids1)

    def test_csv_single_table(self, elements):
        csv_els = [r for r in elements if r["doc_id"] == "doc-csv"]
        assert len(csv_els) == 1
        assert csv_els[0]["type"] == "Table"
        assert "<table>" in csv_els[0]["text_as_html"]

    def test_email_metadata(self, elements):
        eml = [r for r in elements if r["doc_id"] == "doc-eml"]
        assert any(r["subject"] == "Test email" for r in eml)
        assert any(r["filename"] == "notes.txt" for r in eml)

    def test_languages_stamped(self, elements):
        txt = [r for r in elements if r["doc_id"] == "doc-text"]
        assert all(r["languages"] == ["eng"] for r in txt)

    def test_hierarchy_parent_under_title(self, elements):
        html_els = sorted(
            (r for r in elements if r["doc_id"] == "doc-html"),
            key=lambda r: r["element_index"],
        )
        h1 = next(r for r in html_els if r["text"] == "Annual Report")
        body = next(r for r in html_els if "bold statement" in r["text"])
        assert body["parent_id"] == h1["element_id"]

    def test_text_column_via_encode(self, spark):
        # a DataFrame of text reaches the one text rule as utf-8 bytes
        df = spark.createDataFrame(
            [("d1", "• first bullet\n• second bullet")], "doc_id string, text string"
        )
        out = (
            partition_documents(
                df.select("doc_id", F.encode("text", "utf-8").alias("content"))
            )
            .orderBy("element_index")
            .select("type", "text")
            .collect()
        )
        assert [(r["type"], r["text"]) for r in out] == [
            ("ListItem", "first bullet"),
            ("ListItem", "second bullet"),
        ]


class TestCleaners:
    def test_clean_composed(self, spark):
        df = spark.createDataFrame([("•  Some  TEXT:  ",)], "text string")
        out = df.select(
            cleaners.clean(
                F.col("text"),
                extra_whitespace=True,
                bullets=True,
                trailing_punctuation=True,
                lowercase=True,
            ).alias("c")
        ).collect()[0]["c"]
        assert out == "some text"

    def test_ligatures_and_quotes(self, spark):
        df = spark.createDataFrame([("ﬁnancial \x93quote\x94",)], "text string")
        out = df.select(
            cleaners.replace_unicode_quotes(
                cleaners.clean_ligatures(F.col("text"))
            ).alias("c")
        ).collect()[0]["c"]
        assert out == "financial “quote”"


class TestSerde:
    def test_json_round_trip(self, spark, docs_df, tmp_path):
        els = partition_documents(docs_df.filter(F.col("doc_id") == "doc-html"))
        path = str(tmp_path / "els")
        write_elements_json(els, path)
        back = read_elements_json(spark, path)
        orig = els.orderBy("element_index").select("type", "text").collect()
        rt = back.orderBy("element_index").select("type", "text").collect()
        assert sorted((r["type"], r["text"]) for r in rt) == sorted(
            (r["type"], r["text"]) for r in orig
        )

    def test_csv_header_and_rows(self, spark, docs_df, tmp_path):
        els = partition_documents(docs_df.filter(F.col("doc_id") == "doc-text"))
        path = str(tmp_path / "csv")
        write_elements_csv(els, path)
        back = spark.read.options(header="true", multiLine="true").csv(path)
        assert back.columns == [
            "type", "text", "element_id", "doc_id", "element_index",
            "filename", "file_directory", "filetype", "url", "page_number",
            "parent_id", "category_depth", "text_as_html", "last_modified",
        ]
        # one row per element, each element's own values
        cols = ["element_id", "type", "text", "element_index"]
        got = sorted(tuple(r[c] for c in cols) for r in back.collect())
        want = sorted(tuple(str(r[c]) for c in cols) for r in els.collect())
        assert len(got) > 1
        assert got == want

    def test_filter_element_types(self, spark, docs_df):
        els = partition_documents(docs_df)
        only_titles = filter_element_types(els, include=["Title"])
        assert {r["type"] for r in only_titles.collect()} == {"Title"}

    def test_markdown_render(self, spark, docs_df):
        els = partition_documents(docs_df.filter(F.col("doc_id") == "doc-md"))
        md = elements_to_markdown(els).collect()[0]["markdown"]
        assert md.startswith("# Heading One")
        # reference-exact rules: list items render as plain text
        # (staging/base.py:273-305 has no ListItem case)
        assert "\nbullet one" in md

    def test_html_render(self, spark, docs_df):
        from unstructured_spark.operators.serde import elements_to_html

        els = partition_documents(docs_df.filter(F.col("doc_id") == "doc-md"))
        html = elements_to_html(els).collect()[0]["html"]
        assert html.startswith("<!DOCTYPE html>")
        assert "<h1>Heading One</h1>" in html
        assert "<li>bullet one</li>" in html
        assert html.rstrip().endswith("</body></html>")

    def test_html_render_escapes(self, spark):
        from unstructured_spark.operators.serde import elements_to_html

        els = spark.createDataFrame(
            [("d", 0, "NarrativeText", "a < b & c > d", None, None)],
            "doc_id string, element_index int, type string, text string, "
            "category_depth int, text_as_html string",
        )
        html = elements_to_html(els).collect()[0]["html"]
        assert "<p>a &lt; b &amp; c &gt; d</p>" in html


class TestPartitionAndChunk:
    def test_one_call_flow(self, spark, docs_df):
        from unstructured_spark.operators.partition_auto import (
            partition_and_chunk,
        )

        out = partition_and_chunk(
            docs_df,
            chunking_strategy="by_title",
            chunk_kwargs={"max_characters": 200},
        ).collect()
        assert out and all(
            r["type"] in ("CompositeElement", "Table", "TableChunk")
            for r in out
        )

    def test_without_strategy_returns_elements(self, spark, docs_df):
        from unstructured_spark.operators.partition_auto import (
            partition_and_chunk,
        )

        out = partition_and_chunk(docs_df).collect()
        assert any(r["type"] == "Title" for r in out)


class TestErrorCapture:
    def test_on_error_capture_emits_error_rows(self, spark):
        from unstructured_spark.operators.partition_auto import partition_documents

        rows = [
            ("good", b"Hello world.\n\nA fine document.", "good.txt"),
            ("bad", b"\xd0\xcf\x11\xe0 truncated cfb", "broken.doc"),
        ]
        df = spark.createDataFrame(rows, "doc_id string, content binary, path string")
        out = partition_documents(df, on_error="capture").collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r["doc_id"], []).append(r)
        assert any(r["type"] != "Error" for r in by_doc["good"])
        [err] = by_doc["bad"]
        assert err["type"] == "Error"
        assert err["text"]  # carries the exception summary

    def test_on_error_skip_drops_silently(self, spark):
        from unstructured_spark.operators.partition_auto import partition_documents

        df = spark.createDataFrame(
            [("bad", b"\xd0\xcf\x11\xe0 nope", "b.doc")],
            "doc_id string, content binary, path string",
        )
        assert partition_documents(df, on_error="skip").count() == 0

    def test_oserror_from_codec_is_malformed_not_fatal(self):
        # r6 ADVICE: PIL-style codecs and native decode layers raise
        # OSError on corrupt input; one bad doc must reclassify as
        # MalformedDocumentError (so on_error='skip' survives), not
        # kill the task
        from unstructured_spark.parsers import dispatch

        def _raising_parser(content, **kwargs):
            raise OSError("broken data stream when reading image file")

        orig = dispatch._PARTITIONERS.get("png")
        dispatch._PARTITIONERS["png"] = _raising_parser
        try:
            import pytest

            with pytest.raises(dispatch.MalformedDocumentError):
                dispatch.partition_bytes(
                    b"\x89PNG\r\n\x1a\n" + b"\x00" * 64,
                    filename="x.png",
                )
        finally:
            if orig is None:
                dispatch._PARTITIONERS.pop("png", None)
            else:
                dispatch._PARTITIONERS["png"] = orig

    def test_infra_oserror_propagates_not_skipped(self):
        # r7 review: FileNotFoundError/PermissionError are executor
        # problems — reclassifying them as malformed would silently
        # skip the whole corpus under on_error='skip'
        import pytest

        from unstructured_spark.parsers import dispatch

        def _infra_parser(content, **kwargs):
            raise FileNotFoundError("/models/weights.onnx missing")

        orig = dispatch._PARTITIONERS.get("png")
        dispatch._PARTITIONERS["png"] = _infra_parser
        try:
            with pytest.raises(FileNotFoundError):
                dispatch.partition_bytes(
                    b"\x89PNG\r\n\x1a\n" + b"\x00" * 64,
                    filename="x.png",
                )
        finally:
            if orig is None:
                dispatch._PARTITIONERS.pop("png", None)
            else:
                dispatch._PARTITIONERS["png"] = orig

    def test_pdfium_error_wrapped_as_malformed(self):
        # the adapter boundary translates pypdfium2's PdfiumError
        # (a RuntimeError subclass) to MalformedDocumentError
        import numpy as np
        import pytest

        from unstructured_spark.parsers.dispatch import MalformedDocumentError
        from unstructured_spark.parsers.model_adapters import PdfiumRasterizer

        class FakePdfiumError(RuntimeError):
            pass

        class FakePdfium:
            PdfiumError = FakePdfiumError

            class PdfDocument:
                def __init__(self, data):
                    raise FakePdfiumError("Failed to load document (PDFium: corrupt)")

        rast = PdfiumRasterizer(pdfium=FakePdfium())
        with pytest.raises(MalformedDocumentError, match="pdfium open failed"):
            rast(b"%PDF- corrupt", 0)


class TestParserKwargsPassThrough:
    def test_extract_forms_reaches_pdf_partitioner(self, spark):
        from tests.test_pdf_parser import TestExtractForms

        pdf = TestExtractForms._form_pdf()
        docs = spark.createDataFrame(
            [("f1", bytearray(pdf), "form.pdf")],
            "doc_id string, content binary, path string",
        )
        els = partition_documents(docs, extract_forms=True).collect()
        forms = [e for e in els if e["type"] == "FormKeysValues"]
        assert len(forms) == 1
        assert forms[0]["text"].startswith("Name: Jane Doe")
        # default stays off
        els2 = partition_documents(docs).collect()
        assert not any(e["type"] == "FormKeysValues" for e in els2)
