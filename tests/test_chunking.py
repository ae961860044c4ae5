"""Chunking semantics tests (reference contract from
chunking/base.py + title.py; SURVEY §2.4)."""

import pandas as pd
import pytest

from unstructured_spark.operators.chunking import (
    _OUT_COLUMNS,
    ChunkingOptions,
    _make_batched_fold,
    _split_oversized,
    chunk_by_title,
    chunk_elements,
)


def _elements(*rows):
    """rows: (type, text[, page_number])"""
    out = []
    for i, r in enumerate(rows):
        t, text = r[0], r[1]
        page = r[2] if len(r) > 2 else None
        out.append(
            {
                "doc_id": "d1",
                "element_index": i,
                "element_id": f"e{i}",
                "type": t,
                "text": text,
                "page_number": page,
            }
        )
    return out


def _run_fold(rows, by_title=False, **kwargs):
    opts = ChunkingOptions(**kwargs)
    fold = _make_batched_fold(opts, by_title=by_title)
    frames = list(fold(iter([pd.DataFrame(rows)])))
    if not frames:
        return []
    return pd.concat(frames)[_OUT_COLUMNS].to_dict("records")


class TestSplitOversized:
    def test_splits_at_space(self):
        frags = _split_oversized("aaa bbb ccc ddd", 7, 0)
        assert frags == ["aaa bbb", "ccc ddd"]

    def test_hard_cut_no_separator(self):
        frags = _split_oversized("a" * 25, 10, 0)
        assert frags == ["a" * 10, "a" * 10, "a" * 5]

    def test_overlap(self):
        # reference arithmetic (base.py:1620-1624): the separator is
        # replaced by one space inside the overlap, so the carried tail
        # is overlap-1 characters — 'bb' + ' ' here, not 'bbb '
        frags = _split_oversized("aaa bbb ccc ddd eee", 9, 3)
        assert all(len(f) <= 9 for f in frags)
        assert frags[1].startswith("bb ")

    def test_overlap_matches_reference_chunked_golden(self):
        # byte-exact parity with reference-PRODUCED chunk output
        # (local-single-file-basic-chunking/handbook-1p.docx.json,
        # max_characters=150, overlap=20) — asserted end-to-end in
        # tests/test_golden_parity.py; here pin the splitter-level
        # rule: hard-cut fallback carries RAW overlap chars, no space
        frags = _split_oversized("x" * 25, 10, 4)
        assert frags[0] == "x" * 10
        assert frags[1].startswith("xxxx")  # s[maxlen-overlap:]


class TestBasicChunking:
    def test_packs_to_max(self):
        rows = _elements(
            ("NarrativeText", "one two three"),
            ("NarrativeText", "four five six"),
            ("NarrativeText", "seven eight nine"),
        )
        chunks = _run_fold(rows, max_characters=500)
        assert len(chunks) == 1
        assert chunks[0]["type"] == "CompositeElement"
        assert chunks[0]["text"] == "one two three\n\nfour five six\n\nseven eight nine"

    def test_respects_hard_max(self):
        rows = _elements(
            ("NarrativeText", "x" * 40),
            ("NarrativeText", "y" * 40),
        )
        chunks = _run_fold(rows, max_characters=50)
        assert len(chunks) == 2

    def test_table_isolated(self):
        rows = _elements(
            ("NarrativeText", "before"),
            ("Table", "a b c"),
            ("NarrativeText", "after"),
        )
        chunks = _run_fold(rows, max_characters=500)
        types = [c["type"] for c in chunks]
        assert types == ["CompositeElement", "Table", "CompositeElement"]

    def test_oversized_split_with_continuation(self):
        rows = _elements(("NarrativeText", "word " * 30))
        chunks = _run_fold(rows, max_characters=60)
        assert len(chunks) > 1
        assert chunks[0]["is_continuation"] is None
        assert all(c["is_continuation"] for c in chunks[1:])

    def test_checkbox_dropped_and_empty_skipped(self):
        rows = _elements(("CheckBox", "x"), ("NarrativeText", ""), ("Title", "Hi"))
        chunks = _run_fold(rows)
        assert len(chunks) == 1 and chunks[0]["text"] == "Hi"

    def test_orig_element_ids(self):
        rows = _elements(("NarrativeText", "a"), ("NarrativeText", "b"))
        chunks = _run_fold(rows)
        assert chunks[0]["orig_element_ids"] == ["e0", "e1"]


class TestByTitle:
    def test_title_starts_new_chunk(self):
        rows = _elements(
            ("Title", "Section One"),
            ("NarrativeText", "body one"),
            ("Title", "Section Two"),
            ("NarrativeText", "body two"),
        )
        chunks = _run_fold(rows, by_title=True, combine_text_under_n_chars=0)
        assert len(chunks) == 2
        assert chunks[0]["text"] == "Section One\n\nbody one"
        assert chunks[1]["text"] == "Section Two\n\nbody two"

    def test_combine_small_sections(self):
        rows = _elements(
            ("Title", "A"),
            ("NarrativeText", "aa"),
            ("Title", "B"),
            ("NarrativeText", "bb"),
        )
        chunks = _run_fold(rows, by_title=True, combine_text_under_n_chars=500)
        assert len(chunks) == 1
        assert chunks[0]["text"] == "A\n\naa\n\nB\n\nbb"

    def test_page_break_multipage_false(self):
        rows = _elements(
            ("NarrativeText", "page one text", 1),
            ("NarrativeText", "page two text", 2),
        )
        chunks = _run_fold(
            rows, by_title=True, multipage_sections=False, combine_text_under_n_chars=0
        )
        assert len(chunks) == 2

    def test_multipage_true_keeps_section(self):
        rows = _elements(
            ("NarrativeText", "page one text", 1),
            ("NarrativeText", "page two text", 2),
        )
        chunks = _run_fold(rows, by_title=True, multipage_sections=True)
        assert len(chunks) == 1


class TestTableChunking:
    def test_oversized_table_becomes_table_chunks(self):
        html = "<table>" + "".join(
            f"<tr><td>row {i} cell text</td></tr>" for i in range(10)
        ) + "</table>"
        rows = _elements(("Table", "row cell text " * 30))
        rows[0]["text_as_html"] = html
        chunks = _run_fold(rows, max_characters=100)
        assert all(c["type"] == "TableChunk" for c in chunks)
        assert len({c["table_id"] for c in chunks}) == 1
        assert [c["chunk_index"] for c in chunks] == list(range(len(chunks)))
        assert chunks[1]["is_continuation"] is True


class TestSparkChunking:
    @pytest.fixture()
    def element_df(self, spark):
        from tests.fixtures import widen_to_element_schema

        rows = _elements(
            ("Title", "Intro"),
            ("NarrativeText", "Some text about things."),
            ("Title", "Methods"),
            ("NarrativeText", "More text with detail."),
        )
        df = spark.createDataFrame(pd.DataFrame(rows))
        return widen_to_element_schema(df)

    def test_chunk_by_title_spark(self, spark, element_df):
        out = chunk_by_title(element_df, combine_text_under_n_chars=0).collect()
        assert len(out) == 2
        assert out[0]["type"] == "CompositeElement"
        texts = sorted(r["text"] for r in out)
        assert texts[0].startswith("Intro")

    def test_chunk_elements_spark(self, spark, element_df):
        out = chunk_elements(element_df).collect()
        assert len(out) == 1
        assert out[0]["text"].count("\n\n") == 3

    def test_fused_partition_and_chunk_matches_operator_path(self, spark):
        # the fused one-call flow (chunk fold inside the parse UDF) must
        # be row-identical to partition → exchange → chunk_by_title
        from unstructured_spark.operators.partition_auto import (
            partition_and_chunk,
            partition_documents,
        )

        docs = spark.createDataFrame(
            [
                ("1", b"Intro\n\nSome text about things.\n\nMethods\n\nDetail text.", "d1.txt"),
                ("2", b"Short doc.", "d2.txt"),
                ("3", ("A title\n\n" + "long paragraph word " * 40).encode(), "d3.txt"),
            ],
            "doc_id string, content binary, path string",
        )
        kw = {"max_characters": 120, "combine_text_under_n_chars": 50}
        cols = ["doc_id", "element_index", "element_id", "type", "text", "parent_id"]
        fused = partition_and_chunk(
            docs, chunking_strategy="by_title", chunk_kwargs=kw
        ).select(*cols)
        unfused = chunk_by_title(partition_documents(docs), **kw).select(*cols)
        assert sorted(map(tuple, fused.collect())) == sorted(
            map(tuple, unfused.collect())
        )

    def test_fused_matches_unfused_under_capture(self, spark):
        # on_error='capture' synthesizes type='Error' rows; both paths
        # must pass them through VERBATIM (the unfused fold used to eat
        # them into CompositeElements — round-9 advisory fix)
        from unstructured_spark.operators.partition_auto import (
            partition_and_chunk,
            partition_documents,
        )

        docs = spark.createDataFrame(
            [
                ("good", b"Intro\n\nSome text about things.", "g.txt"),
                ("bad", b"\xd0\xcf\x11\xe0 truncated cfb", "broken.doc"),
            ],
            "doc_id string, content binary, path string",
        )
        cols = ["doc_id", "element_index", "type", "text"]
        fused = partition_and_chunk(
            docs, chunking_strategy="by_title", on_error="capture"
        ).select(*cols)
        unfused = chunk_by_title(
            partition_documents(docs, on_error="capture")
        ).select(*cols)
        frows = sorted(map(tuple, fused.collect()))
        urows = sorted(map(tuple, unfused.collect()))
        assert frows == urows
        assert any(t == "Error" for _, _, t, _ in frows)

    def test_reregistered_builtin_not_bypassed_by_fusion(self, spark):
        # register_chunking_strategy('basic', plug-in) must win over the
        # fused built-in fold (round-9 advisory fix)
        from unstructured_spark.operators.chunking import (
            _STRATEGIES,
            chunk_elements,
            register_chunking_strategy,
        )
        from unstructured_spark.operators.partition_auto import partition_and_chunk

        docs = spark.createDataFrame(
            [("1", b"Hello world.\n\nMore text.", "d.txt")],
            "doc_id string, content binary, path string",
        )
        calls = []

        def plugin(df, **kwargs):
            calls.append(1)
            return chunk_elements(df, **kwargs)

        register_chunking_strategy("basic", plugin)
        try:
            partition_and_chunk(docs, chunking_strategy="basic").collect()
            assert calls, "plug-in strategy was silently bypassed by fusion"
        finally:
            _STRATEGIES["basic"] = chunk_elements


class TestTokenMode:
    def test_token_window_respected(self):
        # 30 one-token words; max 10 tokens per chunk → 3 chunks
        words = " ".join(f"w{i}" for i in range(30))
        rows = _elements(("NarrativeText", words))
        chunks = _run_fold(rows, max_characters=10, length_unit="tokens")
        from unstructured_spark.operators.chunking import _TOKEN_RE

        assert len(chunks) == 3
        assert all(
            len(_TOKEN_RE.findall(c["text"])) <= 10 for c in chunks
        )

    def test_punctuation_counts_as_tokens(self):
        from unstructured_spark.operators.chunking import ChunkingOptions

        opts = ChunkingOptions(length_unit="tokens")
        assert opts.measure("end.") == 2
        assert opts.measure("a, b") == 3
        assert opts.measure("\n\n") == 0

    def test_token_overlap(self):
        from unstructured_spark.operators.chunking import _split_oversized_tokens

        frags = _split_oversized_tokens(" ".join(f"w{i}" for i in range(12)), 5, 2)
        # each later fragment starts with the previous fragment's tail
        assert frags[1].split()[:2] == frags[0].split()[-2:]

    def test_separator_free_in_token_mode(self):
        # packing joins with the original whitespace, not hard cuts
        rows = _elements(("NarrativeText", "alpha beta"), ("NarrativeText", "gamma"))
        chunks = _run_fold(rows, max_characters=2, length_unit="tokens")
        assert [c["text"] for c in chunks] == ["alpha beta", "gamma"]

    def test_invalid_unit_raises(self):
        import pytest

        from unstructured_spark.operators.chunking import ChunkingOptions

        with pytest.raises(ValueError):
            ChunkingOptions(length_unit="words")


class _FakeEncoding:
    """GPT-style byte-faithful word ids (token text includes its
    leading space, concat of token bytes == original bytes): enough to
    exercise the tiktoken seam (measure by encode(), oversized split by
    id-window + boundary-snapped byte slicing)."""

    def encode(self, text):
        import re

        return re.findall(r" ?[^ ]+| +$", text)

    def decode(self, ids):
        return "".join(ids)

    def decode_single_token_bytes(self, tok):
        return tok.encode("utf-8")


class _ByteChunkEncoding:
    """Pathological BPE stand-in: ids are fixed 3-byte chunks of the
    UTF-8 stream, so token boundaries routinely land mid-character —
    the exact case where naive id-slice decoding emits U+FFFD."""

    def encode(self, text):
        raw = text.encode("utf-8")
        return [raw[i : i + 3] for i in range(0, len(raw), 3)]

    def decode(self, ids):
        return b"".join(ids).decode("utf-8", errors="replace")

    def decode_single_token_bytes(self, tok):
        return tok


class TestTiktokenSeam:
    def _opts(self, **kw):
        from unstructured_spark.operators import chunking

        chunking._TIKTOKEN_ENCODERS["fake-model"] = _FakeEncoding()
        return chunking.ChunkingOptions(
            length_unit="tokens", tokenizer="fake-model", **kw
        )

    def test_measure_uses_configured_encoder(self):
        opts = self._opts()
        # fake counts whitespace words: "end." is 1 (tiktoken-style
        # counts differ from the built-in _TOKEN_RE's 2)
        assert opts.measure("end.") == 1
        assert opts.measure("a, b") == 2

    def test_split_windows_on_encoder_ids(self):
        opts = self._opts(max_characters=5, overlap=2)
        frags = opts.split(" ".join(f"w{i}" for i in range(12)))
        assert all(len(f.split()) <= 5 for f in frags)
        assert frags[1].split()[:2] == frags[0].split()[-2:]

    def test_split_never_cuts_mid_character(self):
        # token boundaries landing inside multi-byte chars must not
        # yield U+FFFD fragment edges (ADVICE r4): edges snap to
        # character boundaries of the original byte stream
        from unstructured_spark.operators import chunking

        chunking._TIKTOKEN_ENCODERS["byte-chunk"] = _ByteChunkEncoding()
        opts = chunking.ChunkingOptions(
            length_unit="tokens", tokenizer="byte-chunk",
            max_characters=4, overlap=1,
        )
        text = "héllo wörld ünïcode τεχτ δεδομένα ενα"
        frags = opts.split(text)
        assert len(frags) > 1
        for f in frags:
            assert "�" not in f
            assert f in text  # exact byte-slice, no lossy round-trip
        # no bytes skipped: fragments tile the text (with overlap)
        pos = 0
        for f in frags:
            i = text.find(f, max(0, pos - len(f)))
            assert i != -1 and i <= pos
            pos = max(pos, i + len(f))
        assert pos == len(text)

    def test_tokenizer_requires_token_mode(self):
        import pytest

        from unstructured_spark.operators.chunking import ChunkingOptions

        with pytest.raises(ValueError, match="length_unit='tokens'"):
            ChunkingOptions(tokenizer="cl100k_base")

    def test_gated_without_tiktoken(self):
        import importlib.util

        import pytest

        from unstructured_spark.operators.chunking import ChunkingOptions

        if importlib.util.find_spec("tiktoken") is not None:
            pytest.skip("tiktoken installed; gate not reachable")
        with pytest.raises(ImportError, match="tiktoken"):
            ChunkingOptions(length_unit="tokens", tokenizer="cl100k_base")


class TestOverlapAll:
    def test_overlap_must_be_less_than_max(self):
        with pytest.raises(ValueError):
            ChunkingOptions(max_characters=50, overlap=50)
        with pytest.raises(ValueError):
            ChunkingOptions(max_characters=50, overlap=80)

    def test_inter_pre_chunk_overlap_prefix(self):
        # two pre-chunks forced by the soft max; second chunk text is
        # prefixed with the tail of the first (reference base.py:523-572)
        rows = _elements(
            ("NarrativeText", "alpha bravo charlie"),
            ("NarrativeText", "delta echo foxtrot"),
        )
        out = _run_fold(
            rows, max_characters=60, new_after_n_chars=10,
            overlap=8, overlap_all=True,
        )
        assert len(out) == 2
        tail = out[0]["text"][-8:].strip()
        assert out[1]["text"].startswith(tail)

    def test_no_overlap_without_flag(self):
        rows = _elements(
            ("NarrativeText", "alpha bravo charlie"),
            ("NarrativeText", "delta echo foxtrot"),
        )
        out = _run_fold(
            rows, max_characters=60, new_after_n_chars=10, overlap=8,
        )
        assert len(out) == 2
        assert out[1]["text"] == "delta echo foxtrot"

    def test_tables_break_the_overlap_chain(self):
        # a table neither receives the previous tail nor passes one on
        rows = _elements(
            ("NarrativeText", "alpha bravo charlie"),
            ("Table", "r1c1 r1c2"),
            ("NarrativeText", "delta echo foxtrot"),
        )
        out = _run_fold(
            rows, max_characters=60, new_after_n_chars=10,
            overlap=8, overlap_all=True,
        )
        texts = {o["type"]: o["text"] for o in out}
        assert texts["Table"] == "r1c1 r1c2"
        assert texts["CompositeElement"] in (
            "alpha bravo charlie", "delta echo foxtrot",
        )
        last = [o for o in out if o["text"].startswith("delta")]
        assert last and last[0]["text"] == "delta echo foxtrot"


class TestStrategyRegistry:
    def test_builtin_dispatch(self, spark):
        from unstructured_spark.operators.chunking import chunk

        rows = _elements(("Title", "T"), ("NarrativeText", "body text"))
        df = spark.createDataFrame(pd.DataFrame(rows))
        out = chunk(df, strategy="by_title", max_characters=100).collect()
        assert out and out[0]["type"] == "CompositeElement"

    def test_custom_strategy(self, spark):
        from unstructured_spark.operators.chunking import (
            chunk,
            register_chunking_strategy,
        )

        register_chunking_strategy(
            "titles_only",
            lambda df, **kw: df.filter(df.type == "Title"),
        )
        rows = _elements(("Title", "T"), ("NarrativeText", "body"))
        df = spark.createDataFrame(pd.DataFrame(rows))
        out = chunk(df, strategy="titles_only").collect()
        assert [r["text"] for r in out] == ["T"]

    def test_unknown_strategy_raises(self, spark):
        from unstructured_spark.operators.chunking import chunk

        rows = _elements(("Title", "T"))
        df = spark.createDataFrame(pd.DataFrame(rows))
        with pytest.raises(ValueError, match="unregistered"):
            chunk(df, strategy="nope")


class TestTableTextHtmlSync:
    """_split_table_rows: text/HTML synced on row→cell→text boundaries
    with header carry-over (reference base.py:1192-1393,1323-1331)."""

    def _table_row(self, html, text=None):
        rows = _elements(("Table", text or ""))
        rows[0]["text_as_html"] = html
        if text is None:
            from unstructured_spark.operators.html_table import (
                parse_html_table, table_text,
            )
            rows[0]["text"] = table_text(parse_html_table(html))
        return rows

    def test_text_and_html_describe_same_cells(self):
        import re
        html = "<table>" + "".join(
            f"<tr><td>alpha {i}</td><td>beta {i}</td></tr>" for i in range(12)
        ) + "</table>"
        rows = self._table_row(html)
        chunks = _run_fold(rows, max_characters=80)
        assert len(chunks) > 1
        for c in chunks:
            assert c["type"] == "TableChunk"
            # text == the cell texts of this chunk's own HTML
            cell_texts = re.findall(r"<t[dh][^>]*>(.*?)</t[dh]>", c["text_as_html"])
            body = c["text"]
            assert body == " ".join(t for t in cell_texts if t)

    def test_header_rows_repeat_on_continuations(self):
        html = "<table><thead><tr><th>col a</th><th>col b</th></tr></thead>" + "".join(
            f"<tr><td>val {i}a</td><td>val {i}b</td></tr>" for i in range(12)
        ) + "</table>"
        rows = self._table_row(html)
        chunks = _run_fold(rows, max_characters=80)
        assert len(chunks) > 1
        assert chunks[0]["num_carried_over_header_rows"] == 0
        assert chunks[0]["text_as_html"].startswith("<table><tr><td>col a</td>")
        for c in chunks[1:]:
            assert c["num_carried_over_header_rows"] == 1
            assert c["text_as_html"].startswith(
                "<table><thead><tr><th>col a</th><th>col b</th></tr></thead>"
            )
            assert c["text"].startswith("col a col b ")

    def test_no_repeat_when_header_over_half_window(self):
        wide = "x" * 60
        html = f"<table><tr><th>{wide}</th></tr>" + "".join(
            f"<tr><td>val {i}</td></tr>" for i in range(12)
        ) + "</table>"
        rows = self._table_row(html)
        chunks = _run_fold(rows, max_characters=100)
        assert len(chunks) > 1
        assert all((c["num_carried_over_header_rows"] or 0) == 0 for c in chunks)
        for c in chunks[1:]:
            assert "<thead>" not in c["text_as_html"]

    def test_repeat_disabled_by_option(self):
        html = "<table><tr><th>h1</th><th>h2</th></tr>" + "".join(
            f"<tr><td>val {i}a</td><td>val {i}b</td></tr>" for i in range(12)
        ) + "</table>"
        rows = self._table_row(html)
        chunks = _run_fold(rows, max_characters=80, repeat_table_headers=False)
        assert len(chunks) > 1
        assert all((c["num_carried_over_header_rows"] or 0) == 0 for c in chunks)

    def test_oversized_row_splits_on_cells(self):
        cells = "".join(f"<td>cell text number {i}</td>" for i in range(10))
        html = f"<table><tr>{cells}</tr></table>"
        rows = self._table_row(html)
        chunks = _run_fold(rows, max_characters=60)
        assert len(chunks) > 1
        for c in chunks:
            assert c["text_as_html"].startswith("<table><tr>")
            assert len(c["text"]) <= 60

    def test_oversized_cell_splits_on_text(self):
        long_text = "word " * 50
        html = f"<table><tr><td>{long_text.strip()}</td></tr></table>"
        rows = self._table_row(html)
        chunks = _run_fold(rows, max_characters=80)
        assert len(chunks) > 1
        for c in chunks:
            assert c["text_as_html"] == f"<table><tr><td>{c['text']}</td></tr></table>"

    def test_small_window_falls_back_to_text_only(self):
        html = "<table>" + "".join(
            f"<tr><td>row {i} text</td></tr>" for i in range(20)
        ) + "</table>"
        rows = self._table_row(html)
        chunks = _run_fold(rows, max_characters=40)  # < 50 threshold
        assert len(chunks) > 1
        assert all(c["text_as_html"] is None for c in chunks)

    def test_fitting_table_gets_compact_html(self):
        html = ('<table border="1" class="dataframe"><tbody>'
                "<tr><th>a</th><td> b  c </td></tr></tbody></table>")
        rows = self._table_row(html, text="a b c")
        chunks = _run_fold(rows, max_characters=500)
        assert len(chunks) == 1
        assert chunks[0]["type"] == "Table"
        assert chunks[0]["text_as_html"] == "<table><tr><td>a</td><td>b c</td></tr></table>"

    def test_whitespace_only_table_produces_no_chunks(self):
        rows = _elements(("Table", "   "))
        assert _run_fold(rows, max_characters=100) == []


class TestTableRoundTrip:
    def test_reconstruct_strips_carried_headers(self, spark):
        from unstructured_spark.operators.chunking import (
            chunk_elements, reconstruct_table_from_chunks,
        )
        from unstructured_spark.operators.html_table import (
            parse_html_table, table_text,
        )
        from tests.fixtures import widen_to_element_schema

        html = "<table><thead><tr><th>col a</th><th>col b</th></tr></thead>" + "".join(
            f"<tr><td>val {i}a</td><td>val {i}b</td></tr>" for i in range(12)
        ) + "</table>"
        text = table_text(parse_html_table(html))
        rows = _elements(("Table", text))
        rows[0]["text_as_html"] = html
        df = widen_to_element_schema(spark.createDataFrame(pd.DataFrame(rows)))
        chunks = chunk_elements(df, max_characters=80)
        assert chunks.filter(chunks.type == "TableChunk").count() > 1
        rebuilt = reconstruct_table_from_chunks(chunks).collect()
        assert len(rebuilt) == 1
        r = rebuilt[0]
        # all original body rows exactly once; headers once in <thead>
        assert r["text_as_html"].count("val 7a") == 1
        assert r["text_as_html"].count("col a") == 1
        assert r["text_as_html"].startswith(
            "<table><thead><tr><th>col a</th><th>col b</th></tr></thead>"
        )
        assert r["text"].count("col a") == 1
        for i in range(12):
            assert r["text"].count(f"val {i}a") == 1

    def test_reconstruct_without_headers_unchanged(self, spark):
        from unstructured_spark.operators.chunking import (
            chunk_elements, reconstruct_table_from_chunks,
        )
        from tests.fixtures import widen_to_element_schema

        html = "<table>" + "".join(
            f"<tr><td>item {i} text</td></tr>" for i in range(12)
        ) + "</table>"
        text = " ".join(f"item {i} text" for i in range(12))
        rows = _elements(("Table", text))
        rows[0]["text_as_html"] = html
        df = widen_to_element_schema(spark.createDataFrame(pd.DataFrame(rows)))
        chunks = chunk_elements(df, max_characters=60)
        rebuilt = reconstruct_table_from_chunks(chunks).collect()[0]
        assert rebuilt["text"] == text
        assert rebuilt["text_as_html"] == html


class TestChunkTextNormalization:
    def test_element_text_whitespace_normalized(self):
        rows = _elements(("NarrativeText", "A.\tPURPOSE  with   tabs"),
                         ("NarrativeText", "second\npart"))
        chunks = _run_fold(rows, max_characters=500)
        assert chunks[0]["text"] == "A. PURPOSE with tabs\n\nsecond part"

    def test_code_snippet_keeps_whitespace(self):
        rows = _elements(("CodeSnippet", "def f():\n    return 1"))
        chunks = _run_fold(rows, max_characters=500)
        assert chunks[0]["text"] == "def f():\n    return 1"


class TestSplitterRegressions:
    """Pin the review fixes: overlap-tail livelock, token-mode hard
    max, and new_after_n_chars=0."""

    def test_overlap_tail_cannot_livelock(self):
        from unstructured_spark.operators.chunking import _split_oversized

        # separator only inside the overlap window used to re-create the
        # identical remainder forever
        frags = _split_oversized("a " + "x" * 600, 500, 3)
        assert all(len(f) <= 500 for f in frags)
        assert "".join(frags).count("x") >= 600

    def test_token_mode_hard_max_on_punct_runs(self):
        from unstructured_spark.operators.chunking import _split_oversized_tokens

        frags = _split_oversized_tokens("!" * 60, 10, 0)
        from unstructured_spark.operators.chunking import _TOKEN_RE

        assert all(len(_TOKEN_RE.findall(f)) <= 10 for f in frags)
        assert sum(len(f) for f in frags) == 60

    def test_soft_max_zero_isolates_elements(self, spark):
        from unstructured_spark.operators.chunking import chunk_elements

        rows = [
            ("d", 0, "Text", "first element text"),
            ("d", 1, "Text", "second element text"),
        ]
        df = spark.createDataFrame(
            rows, "doc_id string, element_index long, type string, text string"
        )
        out = chunk_elements(df, max_characters=500, new_after_n_chars=0).collect()
        assert len(out) == 2  # soft max 0: every element its own chunk
