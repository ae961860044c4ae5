"""Staging transforms (§2.8), extra cleaners (§2.3), and the SQL
surface (partition_doc UDTF + scalar registry, §4/§2.10)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests import fixtures as fx
from unstructured_spark.functions import cleaners
from unstructured_spark.operators import staging

_INGEST = fx.REFERENCE / "test_unstructured_ingest"


@pytest.fixture(scope="module")
def elements(spark):
    from unstructured_spark.operators.partition_auto import partition_documents

    docs = spark.createDataFrame(
        [
            ("doc-a", bytearray(fx.FAKE_TEXT.encode()), "a.txt"),
            ("doc-b", bytearray(fx.make_pdf()), "b.pdf"),
        ],
        "doc_id string, content binary, path string",
    )
    df = partition_documents(docs)
    df.cache().count()
    return df


class TestStaging:
    def test_weaviate_shape(self, elements):
        rows = staging.stage_for_weaviate(elements).collect()
        assert {"id", "text", "category", "vector"} <= set(rows[0].asDict())

    def test_prodigy_meta(self, elements):
        row = staging.stage_for_prodigy(elements).collect()[0]
        assert row["meta"]["id"] and row["text"]

    def test_label_studio_nesting(self, elements):
        row = staging.stage_for_label_studio(elements).collect()[0]
        assert row["data"]["ref_id"]

    def test_argilla_map(self, elements):
        row = staging.stage_for_argilla(elements).collect()[0]
        assert row["metadata"]["type"]

    def test_datasaur_rows(self, elements):
        out = staging.stage_for_datasaur(elements)
        assert out.columns == ["text", "entities"]
        rows = out.collect()
        assert sorted(r["text"] for r in rows) == sorted(
            r["text"] for r in elements.collect()
        )
        assert all(r["entities"] == [] for r in rows)

    def test_baseplate_nesting(self, elements):
        out = staging.stage_for_baseplate(elements)
        assert out.columns == ["data", "metadata"]
        rows = out.collect()
        assert set(rows[0]["metadata"].asDict()) == {
            "element_id", "type", "filename", "page_number"
        }
        got = sorted(
            (r["metadata"]["element_id"], r["metadata"]["type"], r["data"]["text"])
            for r in rows
        )
        want = sorted(
            (r["element_id"], r["type"], r["text"]) for r in elements.collect()
        )
        assert got == want

    def test_label_box_rows(self, elements):
        out = staging.stage_for_label_box(elements)
        assert out.columns == ["external_id", "row_data"]
        got = sorted((r["external_id"], r["row_data"]) for r in out.collect())
        want = sorted((r["element_id"], r["text"]) for r in elements.collect())
        assert got == want

    def test_transformers_windows(self, spark):
        df = spark.createDataFrame(
            [("d", "e", "x" * 2500)], "doc_id string, element_id string, text string"
        )
        rows = staging.stage_for_transformers(df, window_chars=1000).collect()
        assert [r["window_start"] for r in rows] == [0, 1000, 2000]
        assert len(rows[2]["text"]) == 500

    def test_coco_bbox(self, elements):
        # pdf elements carry coordinates → COCO rows exist with area
        rows = staging.convert_to_coco(elements).collect()
        assert rows
        assert all(len(r["bbox"]) == 4 for r in rows)
        assert all(r["area"] >= 0 for r in rows)

    def test_flatten_column_order(self, elements):
        out = staging.flatten_metadata(elements)
        assert out.columns[:3] == ["type", "text", "element_id"]


class TestExtraCleaners:
    def test_clean_ordered_bullets(self, spark):
        df = spark.createDataFrame(
            [("1.1.2 Section body",), ("a.ii Another one",), ("no bullet",)],
            "t string",
        )
        vals = [
            r["o"] for r in df.select(
                cleaners.clean_ordered_bullets(F.col("t")).alias("o")
            ).collect()
        ]
        assert vals == ["Section body", "Another one", "no bullet"]

    def test_replace_mime_encodings(self, spark):
        df = spark.createDataFrame([("caf=C3=A9",)], "t string")
        val = df.select(
            cleaners.replace_mime_encodings(F.col("t")).alias("o")
        ).collect()[0]["o"]
        assert val == "café"

    def test_translate_text_gated(self):
        with pytest.raises(NotImplementedError, match="translation model"):
            cleaners.translate_text(F.lit("hola"))


class TestSqlSurface:
    def test_partition_doc_lateral_join(self, spark):
        from unstructured_spark.sql_surface import register_sql_surface

        register_sql_surface(spark)
        docs = spark.createDataFrame(
            [
                ("d1", bytearray(fx.FAKE_TEXT.encode()), "d1.txt"),
                # malformed input follows on_error='skip': no rows
                ("bad", bytearray(b"\xd0\xcf\x11\xe0 truncated cfb"), "broken.doc"),
            ],
            "doc_id string, content binary, path string",
        )
        docs.createOrReplaceTempView("sql_docs")
        out = spark.sql(
            "SELECT d.doc_id, p.element_index, p.type, p.text, p.element_id "
            "FROM sql_docs d, LATERAL partition_doc(d.content, d.path) p "
            "ORDER BY p.element_index"
        ).collect()
        assert {r["doc_id"] for r in out} == {"d1"}
        assert len(out) > 3
        assert out[0]["type"] == "Title"
        assert all(len(r["element_id"]) == 32 for r in out)

    def test_scalar_registry(self, spark):
        from unstructured_spark.sql_surface import register_sql_surface

        register_sql_surface(spark)
        row = spark.sql(
            "SELECT clean_text('  • spam   ham ') AS c, "
            "detect_filetype_name('x.html', NULL) AS ft"
        ).collect()[0]
        assert row["c"] == "spam ham"
        assert row["ft"] == "html"


class TestChunkDocTvf:
    def test_lateral_chunking(self, spark):
        from unstructured_spark.sql_surface import register_sql_surface

        register_sql_surface(spark)
        body = ("Section One\n\n" + "word " * 120 + "\n\nSection Two\n\n" + "tail " * 40).encode()
        spark.createDataFrame(
            # an empty document has no elements and so no chunks
            [("d1", bytearray(body), "a.txt"), ("empty", bytearray(b""), "e.txt")],
            "doc_id string, content binary, path string",
        ).createOrReplaceTempView("docs_for_chunk")
        rows = spark.sql(
            "SELECT d.doc_id, c.* FROM docs_for_chunk d, "
            "LATERAL chunk_doc(d.content, d.path, 200) c"
        ).collect()
        assert {r["doc_id"] for r in rows} == {"d1"}
        assert len(rows) > 2
        assert all(len(r["text"]) <= 200 for r in rows)
        assert [r["chunk_index"] for r in rows] == list(range(len(rows)))

    def test_detect_language_scalar(self, spark):
        from unstructured_spark.sql_surface import register_sql_surface

        register_sql_surface(spark)
        got = spark.sql(
            "SELECT detect_language('the quick brown fox and the lazy dog together') AS l"
        ).first()["l"]
        assert got == "eng"


class TestMarkdownExprFacadeParity:
    @fx.needs(_INGEST / "expected-structured-output")
    def test_native_render_matches_facade_over_golden_corpus(self, spark):
        """render_markdown_expr (native, whole-stage codegen) and
        api.element_to_md (reference-exact, golden-pinned) must agree
        row-for-row — exercised over every element of the reference's
        markdown-golden corpus (incl. all Formula/$$ cases)."""
        import json as _json
        from pathlib import Path

        from pyspark.sql import functions as F

        from unstructured_spark import api
        from unstructured_spark.operators.serde import render_markdown_expr

        base = Path("/root/reference/test_unstructured_ingest/expected-structured-output")
        rows, expected = [], []
        for j, p in enumerate(sorted(base.rglob("*.json"))):
            try:
                els = _json.loads(p.read_text())
            except Exception:
                continue
            if not (isinstance(els, list) and els and isinstance(els[0], dict)
                    and "type" in els[0]):
                continue
            for i, d in enumerate(els):
                meta = d.get("metadata") or {}
                rows.append((
                    f"{j}:{i}",
                    d.get("type") or "Text",
                    d.get("text") or "",
                    meta.get("text_as_html"),
                    _json.dumps(meta),
                ))
                expected.append(
                    (f"{j}:{i}", api.element_to_md(api.Element.from_dict(d)))
                )
        assert len(rows) > 3000
        df = spark.createDataFrame(
            rows, "rid string, type string, text string, text_as_html string, metadata_json string"
        )
        got = dict(
            df.select("rid", render_markdown_expr().alias("md")).collect()
        )
        mismatches = [
            (rid, got[rid], want) for rid, want in expected if got[rid] != want
        ]
        assert not mismatches, mismatches[:3]


class TestHtmlDocumentRenderer:
    @fx.needs(
        _INGEST / "expected-structured-output/gcs/nested-1/fake-text.txt.json",
        _INGEST / "expected-structured-output-html/gcs/nested-1/fake-text.txt.html",
    )
    def test_distributed_matches_local_renderer(self, spark):
        import json as _json
        from pathlib import Path

        from unstructured_spark.html_render import elements_to_html as local_render
        from unstructured_spark.operators.serde import elements_to_html_document

        gold = Path(
            "/root/reference/test_unstructured_ingest/expected-structured-output/"
            "gcs/nested-1/fake-text.txt.json"
        )
        dicts = _json.loads(gold.read_text())
        rows = [
            ("d1", i, d.get("element_id"), d["type"], d["text"],
             (d.get("metadata") or {}).get("text_as_html"),
             _json.dumps(d.get("metadata") or {}))
            for i, d in enumerate(dicts)
        ]
        df = spark.createDataFrame(
            rows,
            "doc_id string, element_index long, element_id string, type string, "
            "text string, text_as_html string, metadata_json string",
        )
        [row] = elements_to_html_document(df).collect()
        assert row["html"] == local_render(dicts, no_group_by_page=True)
        ref = Path(
            "/root/reference/test_unstructured_ingest/expected-structured-output-html/"
            "gcs/nested-1/fake-text.txt.html"
        ).read_text()
        assert row["html"].rstrip("\n") == ref.rstrip("\n")


_WordTokenizer = fx.WordTokenizer


class TestChunkByAttentionWindow:
    """Reference-exact replay of staging/huggingface.py:32-98."""

    def test_greedy_packing_and_flush_quirk(self):
        tok = _WordTokenizer()
        # words cost 1 token each (<=4 chars); window = 10 - 2 = 8
        text = " ".join(["word"] * 20)
        chunks = staging.chunk_by_attention_window(text, tok)
        # 8 words per chunk; mid-flush appends separator.strip() == ""
        assert chunks == [
            " ".join(["word"] * 8),
            " ".join(["word"] * 8),
            " ".join(["word"] * 4),
        ]

    def test_custom_separator_strip_applied_on_flush(self):
        tok = _WordTokenizer()
        text = " ".join(["word"] * 10)
        chunks = staging.chunk_by_attention_window(
            text, tok, chunk_separator=" | "
        )
        # non-space separator: flushed chunk carries the stripped form
        assert chunks[0].endswith("|")
        assert " | " in chunks[0]

    def test_empty_segment_zero_tokens(self):
        tok = _WordTokenizer()
        # double space -> empty segment, costs 0 tokens, still joined
        assert staging.chunk_by_attention_window("a  b", tok) == ["a  b"]

    def test_oversized_segment_raises(self):
        tok = _WordTokenizer()
        with pytest.raises(ValueError, match="number of tokens"):
            staging.chunk_by_attention_window("x" * 100, tok)

    def test_buffer_validation(self):
        tok = _WordTokenizer()
        with pytest.raises(ValueError, match="buffer"):
            staging.chunk_by_attention_window("a", tok, buffer=10)
        with pytest.raises(ValueError, match="buffer"):
            staging.chunk_by_attention_window("a", tok, buffer=-1)

    def test_max_input_size_overrides_model_max(self):
        tok = _WordTokenizer()
        text = " ".join(["word"] * 6)
        chunks = staging.chunk_by_attention_window(
            text, tok, max_input_size=5, buffer=2
        )
        assert chunks == [" ".join(["word"] * 3), " ".join(["word"] * 3)]

    def test_spark_tokenizer_mode(self, spark):
        df = spark.createDataFrame(
            [("d", "e1", " ".join(["word"] * 20)), ("d", "e2", "short")],
            "doc_id string, element_id string, text string",
        )
        rows = staging.stage_for_transformers(
            df, tokenizer=_WordTokenizer()
        ).collect()
        by_el = {}
        for r in rows:
            by_el.setdefault(r["element_id"], []).append(r)
        assert [r["window_index"] for r in sorted(
            by_el["e1"], key=lambda r: r["window_index"]
        )] == [0, 1, 2]
        assert [r["text"] for r in by_el["e2"]] == ["short"]
        # exact agreement with the local replay
        local = staging.chunk_by_attention_window(
            " ".join(["word"] * 20), _WordTokenizer()
        )
        assert [
            r["text"]
            for r in sorted(by_el["e1"], key=lambda r: r["window_index"])
        ] == local


class TestReferenceExactCleaners:
    """Round-5 reference-parity fixes: clean/extract ordered bullets
    (dot + <=2-char-first-segment rule), mojibake repair, RFC-2822
    extraction, verbatim quote map."""

    def test_clean_ordered_bullets_reference_rules(self, spark):
        from unstructured_spark.functions import cleaners as cl

        cases = [
            ("1.1 This is a point", "This is a point"),
            ("a.b This is a point", "This is a point"),
            # bare number / bare word are NOT bullets (reference :63)
            ("5 apples cost ten dollars", "5 apples cost ten dollars"),
            ("Hello world", "Hello world"),
            # '..' disqualifies; >2-char first segment disqualifies
            ("1..2 weird", "1..2 weird"),
            ("abcd.ef Some heading", "abcd.ef Some heading"),
            # trailing dot is fine
            ("1. Numbered with dot", "Numbered with dot"),
        ]
        df = spark.createDataFrame([(t,) for t, _ in cases], "t string")
        got = [r["o"] for r in df.select(
            cl.clean_ordered_bullets(F.col("t")).alias("o")).collect()]
        assert got == [e for _, e in cases]

    def test_extract_ordered_bullets_reference_rules(self, spark):
        from unstructured_spark.functions.extract import extract_ordered_bullets

        cases = [
            ("1.1 This is a very important point", ("1", "1", None)),
            ("a.1 This is a very important point", ("a", "1", None)),
            ("1.1.2 Deep point", ("1", "1", "2")),
            ("This is a very important point", (None, None, None)),
            ("Hello world", (None, None, None)),
            ("5 apples", (None, None, None)),
            ("1.1.2", ("1", "1", "2")),  # bullet-only text still parses
        ]
        df = spark.createDataFrame([(t,) for t, _ in cases], "t string")
        got = [
            (r["b"]["section"], r["b"]["sub_section"], r["b"]["sub_sub_section"])
            for r in df.select(
                extract_ordered_bullets(F.col("t")).alias("b")).collect()
        ]
        assert got == [e for _, e in cases]

    def test_extract_datetimetz_parses(self, spark):
        from unstructured_spark.functions.extract import extract_datetimetz

        df = spark.createDataFrame(
            [("Received: from x by y; Fri, 26 Mar 2021 11:04:09 +1200",),
             ("no date here",)],
            "t string",
        )
        rows = df.select(extract_datetimetz(F.col("t")).alias("d")).collect()
        assert rows[0]["d"] is not None
        # +1200 offset: 11:04:09 local == 23:04:09 UTC previous day
        assert str(rows[0]["d"]).startswith("2021-03-2")
        assert rows[1]["d"] is None

    def test_bytes_string_to_string_repairs_mojibake(self, spark):
        from unstructured_spark.functions import cleaners as cl

        # UTF-8 bytes of the right single quote read as latin-1 ->
        # codepoints E2 80 99; the repair must yield the character back
        mojibake = "\u00e2\u0080\u0099"
        df = spark.createDataFrame([(mojibake,)], "t string")
        val = df.select(
            cl.bytes_string_to_string(F.col("t")).alias("o")
        ).collect()[0]["o"]
        assert val == "\u2019"

    def test_quote_fixes_match_reference_table(self, spark):
        from unstructured_spark.functions import cleaners as cl

        df = spark.createDataFrame(
            [("\x93What a lovely quote!\x94",),
             # real-world mojibake the reference repairs: U+00E2 \x80
             # \x99 -> apostrophe (reference core.py:285)
             ("It\u00e2\x80\x99s",),
             # bare "\u00e2\x80" tail: the catch-all strips it
             ("rest\u00e2\x80over",),
             # em/en-dash and ellipsis keys (core.py:286-289)
             ("a\u00e2\x80\u201cb and dots\u00e2\x80\xa6 end",)],
            "t string",
        )
        got = [r["o"] for r in df.select(
            cl.replace_unicode_quotes(F.col("t")).alias("o")).collect()]
        assert got[0] == "\u201cWhat a lovely quote!\u201d"
        assert got[1] == "It's"
        assert got[2] == "restover"
        assert got[3] == "a\u2014b and dots\u2026 end"

    def test_bytes_string_to_string_passes_non_latin1_through(self, spark):
        from unstructured_spark.functions import cleaners as cl

        # codepoints > U+00FF cannot be byte-reinterpreted; the
        # reference raises ValueError -- we must NOT mangle to '?'
        clean = "don\u2019t touch \u4e2d\u6587"
        df = spark.createDataFrame([(clean,)], "t string")
        val = df.select(
            cl.bytes_string_to_string(F.col("t")).alias("o")
        ).collect()[0]["o"]
        assert val == clean
