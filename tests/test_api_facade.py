"""Drop-in local API facade (unstructured_spark/api.py) — parity with
the reference's ``partition()`` / Element / staging surface
(reference partition/auto.py:30-300, documents/elements.py:585-701,
staging/base.py:263-478) and row-for-row agreement with the Spark
operator path."""

import io
import json

import pytest

from tests import fixtures as fx
from unstructured_spark.api import (
    Element,
    chunk_by_title,
    chunk_elements,
    convert_to_dict,
    elements_from_json,
    elements_to_json,
    partition,
    partition_docx,
    partition_html,
    partition_text,
)

# in-repo stand-ins for the reference's example-docs: fake-text.txt,
# fake.docx, and a long multi-paragraph text for the chunking tests
LONG_TEXT = "\n\n".join(
    f"Part {i}\n\n"
    + " ".join(f"Sentence {j} of part {i} carries the long story onward." for j in range(9))
    for i in range(12)
)


@pytest.fixture
def fake_text(tmp_path):
    path = tmp_path / "fake-text.txt"
    path.write_text(fx.FAKE_TEXT)
    return str(path)


@pytest.fixture
def long_text(tmp_path):
    path = tmp_path / "long-text.txt"
    path.write_text(LONG_TEXT)
    return str(path)


class TestPartitionSources:
    def test_filename(self, fake_text):
        els = partition(filename=fake_text)
        assert els and all(isinstance(e, Element) for e in els)
        assert els[0].text
        assert str(els[0]) == els[0].text

    def test_file_object(self):
        raw = fx.make_docx()
        els = partition(file=io.BytesIO(raw), metadata_filename="fake.docx")
        assert [e.text for e in els] == [
            "Confidential Header",
            "Report Title",
            "This is a narrative paragraph that was written for the report. bold words",
            "item one",
            "nested item",
            "Name Qty\nspam 42",
            "",
            "Second page text appears here. It is still narrative prose.",
            "Page Footer",
        ]
        assert all(e.metadata.filename == "fake.docx" for e in els)

    def test_text_kwarg(self):
        els = partition(text="This is a perfectly ordinary narrative sentence.")
        assert els[0].category == "NarrativeText"

    def test_exactly_one_source_enforced(self):
        with pytest.raises(ValueError, match="Exactly one"):
            partition()
        with pytest.raises(ValueError, match="Exactly one"):
            partition(filename="x.txt", text="also text")

    def test_ids_and_languages_finalized(self, fake_text):
        els = partition(filename=fake_text)
        assert all(e.id and len(e.id) == 32 for e in els)
        assert all(e.metadata.languages == ["eng"] for e in els)
        assert len({e.id for e in els}) == len(els)

    def test_matches_spark_operator_path(self, spark, tmp_path):
        """The facade, partition_documents and SQL partition_doc produce
        identical rows for the same file under a directory path."""
        from unstructured_spark.operators.partition_auto import partition_documents
        from unstructured_spark.sql_surface import register_sql_surface

        in_dir = tmp_path / "in"
        in_dir.mkdir()
        inputs = {
            "fake-text.txt": fx.FAKE_TEXT.encode(),
            "fake-email.eml": fx.FAKE_EMAIL.encode(),
            "fake.docx": fx.make_docx(),
            "fake-html.html": fx.FAKE_HTML.encode(),
        }
        docs = []
        for name, raw in inputs.items():
            (in_dir / name).write_bytes(raw)
            docs.append((str(in_dir / name), str(in_dir / name), bytearray(raw), None))
        df = spark.createDataFrame(
            docs, "doc_id string, path string, content binary, content_type string"
        )
        paths = [d[0] for d in docs]
        register_sql_surface(spark)
        df.createOrReplaceTempView("facade_parity_docs")
        sql_rows = spark.sql(
            "SELECT d.path, p.element_index, p.element_id, p.type, p.text "
            "FROM facade_parity_docs d, LATERAL partition_doc(d.content, d.path) p"
        ).collect()
        operator_rows = (
            partition_documents(df)
            .select("doc_id", "element_index", "element_id", "type", "text")
            .collect()
        )

        def per_doc(rows, path):
            return [
                (r.element_id, r.type, r.text)
                for r in sorted(rows, key=lambda r: r.element_index)
                if r[0] == path
            ]

        for path in paths:
            local = partition(filename=path)
            facade = [(e.id, e.category, e.text) for e in local]
            assert facade, path
            assert facade == per_doc(operator_rows, path), path
            assert facade == per_doc(sql_rows, path), path


class TestFormatWrappers:
    def test_partition_html_text_kwarg(self):
        els = partition_html(text="<h1>Heading</h1><p>This is a narrative paragraph.</p>")
        assert [e.category for e in els] == ["Title", "NarrativeText"]

    def test_partition_text(self):
        els = partition_text(text="one paragraph\n\nanother paragraph")
        assert len(els) == 2

    def test_partition_docx_file(self, tmp_path):
        path = tmp_path / "fake.docx"
        path.write_bytes(fx.make_docx())
        els = partition_docx(filename=str(path))
        assert els and els[0].text == "Confidential Header"


class TestChunkingIntegration:
    def test_partition_with_chunking_strategy(self, long_text):
        els = partition(
            filename=long_text,
            chunking_strategy="basic",
            max_characters=300,
        )
        assert els and all(e.category in ("CompositeElement", "Table", "TableChunk") for e in els)
        assert all(len(e.text) <= 300 for e in els)

    def test_chunk_elements_roundtrip(self, long_text):
        base = partition(filename=long_text)
        chunks = chunk_elements(base, max_characters=200)
        assert "".join(c.text for c in chunks).startswith(base[0].text[:50])

    def test_chunk_by_title_sections(self):
        els = partition_html(
            text="<h1>One</h1><p>alpha text body.</p><h1>Two</h1><p>beta text body.</p>"
        )
        chunks = chunk_by_title(els, max_characters=500, combine_text_under_n_chars=0)
        assert len(chunks) == 2
        assert chunks[0].text.startswith("One")


class TestStaging:
    def test_json_round_trip(self, tmp_path, fake_text):
        els = partition(filename=fake_text)
        p = tmp_path / "els.json"
        assert elements_to_json(els, filename=str(p)) is None
        back = elements_from_json(filename=str(p))
        assert back == els

    def test_wire_type_mapping(self):
        e = Element(text="x", category="Text", element_id="abc")
        d = e.to_dict()
        assert d["type"] == "UncategorizedText"
        assert Element.from_dict(d).category == "Text"

    def test_convert_to_dict_matches_reference_shape(self, fake_text):
        els = partition(filename=fake_text)
        d = convert_to_dict(els)[0]
        assert set(d) == {"type", "element_id", "text", "metadata"}
        assert d["metadata"]["filename"] == "fake-text.txt"
        # metadata drops nulls like the reference serializer
        assert all(v is not None for v in d["metadata"].values())

    def test_json_string_form(self):
        els = partition(text="hello world this is narrative text.")
        s = elements_to_json(els)
        assert json.loads(s)[0]["text"].startswith("hello")


class TestStagingConverters:
    """Local staging/base.py converter parity (md/text/csv/ndjson/
    filter/b64 codec)."""

    def _els(self):
        from unstructured_spark import api

        return api.partition(
            text="Section One\n\nSome narrative text here follows the heading."
        )

    def test_convert_to_text_joins_nonempty(self):
        from unstructured_spark import api

        els = self._els()
        out = api.convert_to_text(els)
        assert "Section One" in out and "narrative text" in out
        assert out.count("\n") == len(els) - 1  # single-newline join

    def test_elements_to_md_title_heading(self):
        from unstructured_spark import api

        md = api.elements_to_md(self._els())
        assert md.startswith("# Section One")

    def test_element_to_md_shapes(self):
        # reference-exact rules (staging/base.py:273-305): no bullet or
        # fence decoration — list items and code render as plain text
        from unstructured_spark import api

        table = api.Element.from_dict(
            {"type": "Table", "text": "a b", "metadata": {"text_as_html": "<table/>"}}
        )
        code = api.Element.from_dict({"type": "CodeSnippet", "text": "x = 1"})
        img = api.Element.from_dict(
            {"type": "Image", "text": "alt", "metadata": {"image_url": "http://x/y.png"}}
        )
        li = api.Element.from_dict({"type": "ListItem", "text": "item"})
        formula = api.Element.from_dict({"type": "Formula", "text": "E = mc^2"})
        assert api.element_to_md(table) == "<table/>"
        assert api.element_to_md(code) == "x = 1"
        assert api.element_to_md(img) == "![alt](http://x/y.png)"
        assert api.element_to_md(li) == "item"
        assert api.element_to_md(formula) == "$$\nE = mc^2\n$$"

    def test_ndjson_round_trip(self):
        from unstructured_spark import api

        els = self._els()
        nd = api.elements_to_ndjson(els)
        back = [api.Element.from_dict(__import__("json").loads(l)) for l in nd.splitlines()]
        assert [e.to_dict()["text"] for e in back] == [e.to_dict()["text"] for e in els]

    def test_csv_and_dataframe(self):
        from unstructured_spark import api

        els = self._els()
        csv_text = api.convert_to_csv(els)
        assert csv_text.splitlines()[0].startswith("type,text,element_id")
        df = api.convert_to_dataframe(els)
        assert list(df["type"]) == [e.to_dict()["type"] for e in els]

    def test_filter_element_types(self):
        from unstructured_spark import api

        els = self._els()
        only_titles = api.filter_element_types(els, include_element_types=["Title"])
        assert all(e.to_dict()["type"] == "Title" for e in only_titles)
        no_titles = api.filter_element_types(els, exclude_element_types=["Title"])
        assert len(only_titles) + len(no_titles) == len(els)
        try:
            api.filter_element_types(els)
            raise AssertionError("expected ValueError")
        except ValueError:
            pass

    def test_b64_gzip_codec_round_trip(self):
        from unstructured_spark import api

        els = self._els()
        enc = api.elements_to_base64_gzipped_json(els)
        back = api.elements_from_base64_gzipped_json(enc)
        assert [e.to_dict() for e in back] == [e.to_dict() for e in els]
