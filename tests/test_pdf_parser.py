"""PDF fast-strategy parser (stdlib content-stream extraction;
reference ``partition/pdf.py:430-587`` fast path semantics)."""

from __future__ import annotations

import os
from pathlib import Path

import pytest

from tests import fixtures as fx
from unstructured_spark.parsers.dispatch import partition_bytes
from unstructured_spark.parsers.pdf_parser import (
    _Lexer,
    _parse_tounicode,
    pdf_to_elements,
)

REF_PDF_DIR = "/root/reference/example-docs/pdf"


class TestObjectLexer:
    def test_dict_with_refs(self):
        lex = _Lexer(b"<< /Type /Page /Parent 2 0 R /N 3 >>")
        d = lex.parse()
        assert d["/Type"] == "/Page"
        assert d["/Parent"].num == 2
        assert d["/N"] == 3

    def test_nested_arrays_and_strings(self):
        lex = _Lexer(b"[ (lit\\)eral) <48656c6c6f> 1.5 /Name ]")
        arr = lex.parse()
        assert arr[0] == b"lit)eral"
        assert arr[1] == b"Hello"
        assert arr[2] == 1.5
        assert arr[3] == "/Name"

    def test_octal_escapes(self):
        lex = _Lexer(rb"(\101\102\103)")
        assert lex.parse() == b"ABC"


class TestToUnicode:
    def test_bfchar_and_bfrange(self):
        cmap = _parse_tounicode(
            b"beginbfchar <01> <0041> endbfchar "
            b"beginbfrange <10> <12> <0061> endbfrange"
        )
        assert cmap[1] == "A"
        assert cmap[0x10] == "a" and cmap[0x12] == "c"


class TestFixturePdf:
    def test_pages_and_classification(self):
        els = pdf_to_elements(fx.make_pdf())
        assert els[0]["type"] == "Title"
        assert els[0]["text"] == "A Clever Title"
        assert els[0]["page_number"] == 1
        assert els[-1]["page_number"] == 2

    def test_line_grouping_merges_adjacent_lines(self):
        els = pdf_to_elements(fx.make_pdf())
        body = next(e for e in els if "first sentence" in e["text"])
        # the 14pt-gap line joined this block; the 60pt-gap line did not
        assert "keeps going" in body["text"]
        assert "Spaced" not in body["text"]

    def test_tj_kerning_becomes_spaces(self):
        els = pdf_to_elements(fx.make_pdf())
        assert any(e["text"] == "Spaced out words here." for e in els)

    def test_dispatch_routes_pdf_magic(self):
        els = partition_bytes(fx.make_pdf(), filename="doc.pdf")
        assert els[0]["filetype"] == "application/pdf"


@pytest.mark.skipif(not os.path.isdir(REF_PDF_DIR), reason="no reference corpus")
class TestRealPdfs:
    def _read(self, name: str) -> bytes:
        with open(os.path.join(REF_PDF_DIR, name), "rb") as f:
            return f.read()

    def test_flate_multipage_paper(self):
        els = pdf_to_elements(self._read("layout-parser-paper-fast.pdf"))
        text = " ".join(e["text"] for e in els)
        assert "LayoutParser" in text
        assert max(e["page_number"] for e in els) >= 2

    def test_cid_font_via_tounicode(self):
        els = pdf_to_elements(self._read("embedded-cmap-cidfont.pdf"))
        text = " ".join(e["text"] for e in els)
        assert "Heading in Helvetica" in text

    def test_broken_xref_still_parses(self):
        # object-scan approach is robust to invalid xref tables
        els = pdf_to_elements(
            self._read("invalid-pdf-structure-pdfminer-one-page.pdf")
        )
        assert len(els) > 40
        text = " ".join(e["text"] for e in els)
        assert "National Cybersecurity Strat" in text


class TestStrategyGate:
    def test_auto_picks_fast_for_text_pdf(self):
        from unstructured_spark.parsers.pdf_parser import determine_pdf_strategy

        assert determine_pdf_strategy(fx.make_pdf()) == "fast"

    def test_auto_routes_scanned_to_ocr(self):
        from unstructured_spark.parsers.pdf_parser import determine_pdf_strategy

        # a PDF whose pages have no text operators → not extractable;
        # with models present (injected) auto → ocr_only
        scanned = b"%PDF-1.4\n1 0 obj\n<< /Type /Page >>\nendobj\n%%EOF"
        assert determine_pdf_strategy(
            scanned, inference_installed=True, ocr_installed=True
        ) == "ocr_only"

    def test_scanned_without_models_is_unprocessable(self):
        from unstructured_spark.parsers.pdf_parser import determine_pdf_strategy

        scanned = b"%PDF-1.4\n1 0 obj\n<< /Type /Page >>\nendobj\n%%EOF"
        with pytest.raises(ValueError, match="not extractable"):
            determine_pdf_strategy(
                scanned, inference_installed=False, ocr_installed=False
            )

    def test_hi_res_without_models_falls_back_to_fast(self):
        # reference fallback (strategies.py:58-70): hi_res requested,
        # no inference model and no OCR in this container → fast path
        els = pdf_to_elements(fx.make_pdf(), strategy="hi_res")
        assert len(els) > 0

    def test_model_strategies_gated_when_chosen(self):
        # a strategy that RESOLVES to a model-bound path still raises
        # the honest dependency gate (ocr_only w/o OCR + unextractable
        # falls back to hi_res — model absent → gate)
        from unstructured_spark.parsers import pdf_parser

        with pytest.raises((NotImplementedError, ValueError)):
            pdf_parser.pdf_to_elements(
                b"%PDF-1.4\n1 0 obj\n<< /Type /Page >>\nendobj\n%%EOF",
                strategy="ocr_only",
            )


class TestStrategyDecisionTable:
    """reference partition/strategies.py:8-109 decision table with
    injected dependency availability."""

    def _d(self, strategy, **kw):
        from unstructured_spark.parsers.strategies import determine_pdf_or_image_strategy
        return determine_pdf_or_image_strategy(strategy, **kw)

    def test_auto_image_is_hi_res(self):
        assert self._d("auto", is_image=True, inference_installed=True,
                       ocr_installed=True) == "hi_res"

    def test_auto_table_structure_is_hi_res(self):
        assert self._d("auto", infer_table_structure=True, pdf_text_extractable=True,
                       inference_installed=True, ocr_installed=True) == "hi_res"

    def test_auto_extract_images_is_hi_res(self):
        assert self._d("auto", extract_images_in_pdf=True, pdf_text_extractable=True,
                       inference_installed=True, ocr_installed=True) == "hi_res"

    def test_auto_extractable_is_fast(self):
        assert self._d("auto", pdf_text_extractable=True,
                       inference_installed=True, ocr_installed=True) == "fast"

    def test_auto_scanned_is_ocr_only(self):
        assert self._d("auto", pdf_text_extractable=False,
                       inference_installed=True, ocr_installed=True) == "ocr_only"

    def test_hi_res_without_inference_falls_to_ocr_only(self):
        assert self._d("hi_res", pdf_text_extractable=True,
                       inference_installed=False, ocr_installed=True) == "ocr_only"

    def test_hi_res_without_any_model_falls_to_fast(self):
        assert self._d("hi_res", pdf_text_extractable=True,
                       inference_installed=False, ocr_installed=False) == "fast"

    def test_ocr_only_without_ocr_extractable_falls_to_fast(self):
        assert self._d("ocr_only", pdf_text_extractable=True,
                       inference_installed=True, ocr_installed=False) == "fast"

    def test_ocr_only_without_ocr_scanned_falls_to_hi_res(self):
        assert self._d("ocr_only", pdf_text_extractable=False,
                       inference_installed=True, ocr_installed=False) == "hi_res"

    def test_nothing_available_raises(self):
        import pytest
        with pytest.raises(ValueError, match="not extractable"):
            self._d("auto", pdf_text_extractable=False,
                    inference_installed=False, ocr_installed=False)

    def test_validate_rejects_fast_for_images(self):
        import pytest
        from unstructured_spark.parsers.strategies import validate_strategy
        with pytest.raises(ValueError, match="not available for image"):
            validate_strategy("fast", is_image=True)
        with pytest.raises(ValueError, match="not a valid strategy"):
            validate_strategy("turbo")


class TestAnnotationsAndTransforms:
    """Fast-path parity extras: URI/Dest link annotations mapped to
    element words (reference pdf.py:500-560 + pdfminer_utils get_uris),
    AcroForm widget recovery (pdf.py:563-583), fake-bold run dedup
    (get_text_with_deduplication), and the full cm/Tm transform chain."""

    def _read(self, name):
        with open(f"/root/reference/example-docs/pdf/{name}", "rb") as f:
            return f.read()

    @fx.needs(Path(REF_PDF_DIR, "embedded-link.pdf"))
    def test_embedded_links_resolve_words(self):
        els = pdf_to_elements(self._read("embedded-link.pdf"))
        links = [l for e in els for l in (e.get("links") or [])]
        by_url = {l["url"]: l for l in links}
        assert by_url["https://github.com/Unstructured-IO/unstructured"]["text"] == "link"
        assert by_url["mailto:unstructuredai@earlygrowth.com"]["text"] == "email"
        assert by_url["tel:6505124019"]["text"] == "phone number"
        # reference test_pdf.py:1112-1115: the multi-line link's last
        # fragment is the word "capturing"
        assert links[-1]["text"] == "capturing"
        assert links[-1]["url"] == "http://www.apple.com"

    @fx.needs(Path(REF_PDF_DIR, "embedded-link.pdf"))
    def test_link_start_index_points_into_text(self):
        els = pdf_to_elements(self._read("embedded-link.pdf"))
        for e in els:
            for l in e.get("links") or []:
                if l["start_index"] >= 0 and l["text"]:
                    assert e["text"][l["start_index"]:].startswith(l["text"])

    @fx.needs(Path(REF_PDF_DIR, "multi-column.pdf"))
    def test_named_dest_cite_links(self):
        # academic internal cite links surface as named destinations
        # (reference expects e.g. url="cite.wu2019detectron2")
        els = pdf_to_elements(self._read("multi-column.pdf"))
        urls = {l["url"] for e in els for l in (e.get("links") or [])}
        assert any(u.startswith("cite.") for u in urls)

    @fx.needs(Path(REF_PDF_DIR, "fake-bold-sample.pdf"))
    def test_fake_bold_dedup(self):
        els = pdf_to_elements(self._read("fake-bold-sample.pdf"))
        text = " ".join(e["text"] for e in els)
        # each char drawn twice; dedup keeps one rendering
        assert text.count("B O L D") == 1
        assert "B B O O" not in text

    @fx.needs(Path(REF_PDF_DIR, "embedded-link.pdf"))
    def test_cm_tm_transform_chain_positions(self):
        # embedded-link.pdf positions text via `cm` translation + scaled
        # Tm; coordinates must land at true page coords, not text space
        els = pdf_to_elements(self._read("embedded-link.pdf"))
        ys = [p["y"] for e in els for p in e["coordinates"]["points"]]
        assert max(ys) > 100  # degenerate extraction would cluster at y~0
        assert all(0 <= y <= 792 for y in ys)


class TestRobustnessRegressions:
    """Pin the malformed-input fixes: escapes, inline images, short
    rects, bfrange array form, inheritable page attributes, and
    agent-based (not package-based) strategy capability."""

    def test_literal_string_invalid_octal_8_9(self):
        assert _Lexer(rb"(\9ok\8)").parse() == b"9ok8"

    def test_tounicode_bfrange_array_destinations(self):
        cmap = _parse_tounicode(
            b"beginbfrange <41> <43> [<0061> <0062> <0063>] "
            b"<50> <51> <0070> endbfrange"
        )
        assert cmap[0x41] == "a" and cmap[0x42] == "b" and cmap[0x43] == "c"
        # the range after the array form must stay correctly aligned
        assert cmap[0x50] == "p" and cmap[0x51] == "q"

    def test_inline_image_data_not_tokenized(self):
        from unstructured_spark.parsers.pdf_parser import _extract_runs

        content = (
            b"BT /F1 12 Tf 72 700 Td (before) Tj ET "
            b"BI /W 2 /H 2 ID \xff\x00(\x81garbage\\ EI "
            b"BT /F1 12 Tf 72 600 Td (after) Tj ET"
        )
        texts = [t for _, _, _, t in _extract_runs(content, {})]
        assert texts == ["before", "after"]

    def test_malformed_operands_skip_not_crash(self):
        from unstructured_spark.parsers.pdf_parser import _extract_runs

        # a name under Td and a stray ] under Tm must not abort
        content = b"BT /F1 0 Td ] 0 0 0 0 0 Tm (still here) Tj ET"
        texts = [t for _, _, _, t in _extract_runs(content, {})]
        assert texts == ["still here"]

    def test_short_rect_annotation_skipped(self):
        from unstructured_spark.parsers.pdf_parser import _PdfDoc, _page_annotations

        pdf = (
            b"%PDF-1.4\n"
            b"1 0 obj\n<</Type/Page/Annots[2 0 R]>>\nendobj\n"
            b"2 0 obj\n<</Subtype/Link/Rect[0 0]/A<</URI(http://x)>>>>\nendobj\n"
        )
        doc = _PdfDoc(pdf)
        links, widgets = _page_annotations(doc, doc.objects[1], 792.0)
        assert links == [] and widgets == []

    def test_inherited_mediabox_and_resources(self):
        # /MediaBox + /Resources declared on the /Pages node, not the page
        import zlib as _z

        stream = _z.compress(b"BT /F1 12 Tf 72 700 Td (inherited) Tj ET")
        pdf = (
            b"%PDF-1.4\n"
            b"1 0 obj\n<</Type/Catalog/Pages 2 0 R>>\nendobj\n"
            b"2 0 obj\n<</Type/Pages/Kids[3 0 R]/Count 1"
            b"/MediaBox[0 0 400 500]/Resources<<>>>>\nendobj\n"
            b"3 0 obj\n<</Type/Page/Parent 2 0 R/Contents 4 0 R>>\nendobj\n"
            + (b"4 0 obj\n<</Filter/FlateDecode/Length %d>>\n" % len(stream))
            + b"stream\n" + stream + b"\nendstream\nendobj\n"
            + b"trailer<</Root 1 0 R>>\n%%EOF"
        )
        els = pdf_to_elements(pdf)
        assert els and els[0]["text"] == "inherited"
        assert els[0]["coordinates"]["layout_width"] == 400.0
        assert els[0]["coordinates"]["layout_height"] == 500.0

    def test_strategy_capability_is_agents_not_packages(self):
        from unstructured_spark.parsers.pdf_parser import determine_pdf_strategy

        # no agents registered: hi_res on extractable text falls to fast
        # regardless of what packages happen to be importable
        assert determine_pdf_strategy(fx.make_pdf(), "hi_res") == "fast"


class TestComplexityGate:
    """is_pdf_too_complex (reference pdf.py:618-756): vector-drawing
    pages route away from text extraction."""

    @staticmethod
    def _vector_pdf(n_ops: int, with_text: bool = False, pad_to_mb: bool = True) -> bytes:
        import zlib as _z

        ops = b"0 0 m 1 1 l S q Q " * (n_ops // 6 + 1)
        if with_text:
            ops += b"BT /F1 12 Tf (t) Tj ET " * (n_ops // 6)
        stream = _z.compress(ops, 0)  # level 0: keeps the file big
        pdf = bytearray(b"%PDF-1.4\n")
        pdf += b"1 0 obj\n<</Type/Catalog/Pages 2 0 R>>\nendobj\n"
        pdf += b"2 0 obj\n<</Type/Pages/Kids[3 0 R]/Count 1>>\nendobj\n"
        pdf += b"3 0 obj\n<</Type/Page/Parent 2 0 R/Contents 4 0 R>>\nendobj\n"
        pdf += b"4 0 obj\n<</Filter/FlateDecode/Length %d>>\n" % len(stream)
        pdf += b"stream\n" + stream + b"\nendstream\nendobj\n"
        if pad_to_mb:
            pdf += b"%" + b"x" * (1024 * 1024)
        pdf += b"\ntrailer<</Root 1 0 R>>\n%%EOF"
        return bytes(pdf)

    def test_vector_heavy_page_flagged(self):
        from unstructured_spark.parsers.pdf_parser import is_pdf_too_complex

        assert is_pdf_too_complex(self._vector_pdf(120_000)) is True

    def test_text_heavy_page_not_flagged(self):
        from unstructured_spark.parsers.pdf_parser import is_pdf_too_complex

        # graphics ops over threshold but ratio below 20:1
        assert is_pdf_too_complex(self._vector_pdf(120_000, with_text=True)) is False

    def test_small_file_early_exit(self):
        from unstructured_spark.parsers.pdf_parser import is_pdf_too_complex

        assert is_pdf_too_complex(self._vector_pdf(120_000, pad_to_mb=False)) is False

    def test_complex_pdf_routes_away_from_fast(self):
        from unstructured_spark.parsers.pdf_parser import determine_pdf_strategy

        # text IS technically extractable, but the complexity gate wins:
        # with models injected, auto routes to ocr_only instead of fast
        pdf = self._vector_pdf(120_000)
        assert determine_pdf_strategy(
            pdf, inference_installed=True, ocr_installed=True
        ) == "ocr_only"


class TestEncryptedPdf:
    """Standard security handler (parsers/pdf_crypto.py): owner-only
    'copy-protected' docs decrypt with the empty user password
    (reference test_strategies.py:34-41 expects them text-extractable);
    real user passwords raise."""

    def test_aes_and_rc4_primitives_match_published_vectors(self):
        from unstructured_spark.parsers.pdf_crypto import (
            _aes_decrypt_block,
            _expand_key,
            rc4,
        )

        key = bytes(range(16))
        ct = bytes.fromhex("69c4e0d86a7b0430d8cdb78070b4c55a")  # FIPS-197 C.1
        assert _aes_decrypt_block(_expand_key(key), ct).hex() == (
            "00112233445566778899aabbccddeeff"
        )
        assert rc4(b"Key", bytes.fromhex("BBF316E8D940AF0AD3")) == b"Plaintext"

    @fx.needs(Path(REF_PDF_DIR, "copy-protected.pdf"))
    def test_copy_protected_pdf_extracts_text(self):
        raw = Path("/root/reference/example-docs/pdf/copy-protected.pdf").read_bytes()
        els = pdf_to_elements(raw)
        joined = " ".join(e["text"] for e in els)
        assert "Uniﬁed Toolkit for Deep Learning Based Document Image Analysis" in joined
        assert sorted({e.get("page_number") for e in els}) == [1, 2]

    def test_password_protected_pdf_raises(self):
        from unstructured_spark.parsers.pdf_crypto import PdfEncryptedError

        raws = [fx.make_encrypted_pdf(user_password=b"secret", owner_password=b"owner")]
        password_pdf = Path(f"{REF_PDF_DIR}/password.pdf")
        if password_pdf.exists():
            raws.append(password_pdf.read_bytes())
        for raw in raws:
            with pytest.raises(PdfEncryptedError):
                pdf_to_elements(raw)

    @fx.needs(Path(REF_PDF_DIR, "copy-protected.pdf"))
    def test_macroman_base_encoding_maps_ligatures(self):
        # the copy-protected fixture's fonts use MacRoman, where 0xDE
        # is 'fi' — a latin-1 fallback would read 'Þ'
        raw = Path("/root/reference/example-docs/pdf/copy-protected.pdf").read_bytes()
        joined = " ".join(e["text"] for e in pdf_to_elements(raw))
        assert "Þ" not in joined


class TestAes256Encryption:
    """AES-256 (V5/R6) Standard handler: FIPS-197 vectors for the
    block cipher, and a full build-then-recover round trip of the
    /U validation + /UE file-key unwrap (ISO 32000-2 Algorithms
    2.A/2.B with the empty user password)."""

    def test_fips_197_vectors(self):
        from unstructured_spark.parsers import pdf_crypto as pc

        pt = bytes.fromhex("00112233445566778899aabbccddeeff")
        k128, k256 = bytes(range(16)), bytes(range(32))
        assert pc._aes_encrypt_block(pc._expand_key(k128), pt).hex() == (
            "69c4e0d86a7b0430d8cdb78070b4c55a"
        )
        ct = pc._aes_encrypt_block(pc._expand_key(k256), pt)
        assert ct.hex() == "8ea2b7ca516745bfeafc49904b496089"
        assert pc._aes_decrypt_block(pc._expand_key(k256), ct) == pt

    def test_v5_round_trip_and_password_rejection(self):
        from unstructured_spark.parsers import pdf_crypto as pc

        file_key = bytes(range(32))
        vsalt, ksalt = b"VALSALT1", b"KEYSALT2"
        u = pc._hardened_hash(b"", vsalt) + vsalt + ksalt
        ue = pc._aes_cbc_encrypt_nopad(
            pc._hardened_hash(b"", ksalt), b"\x00" * 16, file_key
        )
        enc = {"/V": 5, "/R": 6, "/U": u, "/UE": ue, "/O": b"x" * 48, "/P": -1}
        d = pc.StandardDecryptor(enc, b"")
        assert d.key == file_key
        iv = b"\x01" * 16
        ct = iv + pc._aes_cbc_encrypt_nopad(
            file_key, iv, b"secret content!!" + bytes([16]) * 16
        )
        assert pc.aes_cbc_decrypt(d.object_key(7, 0), ct) == b"secret content!!"
        # a real user password (different validation hash) must reject
        bad = dict(enc)
        bad["/U"] = pc._hardened_hash(b"hunter2", vsalt) + vsalt + ksalt
        with pytest.raises(pc.PdfEncryptedError):
            pc.StandardDecryptor(bad, b"")


class TestHiResMaxPages:
    def test_page_count_gate(self):
        from unstructured_spark.parsers import image_parser
        from unstructured_spark.parsers.pdf_parser import (
            PageCountExceededError,
            pdf_to_elements,
        )

        # the gate applies once hi_res is actually viable (agents
        # registered); a 12-page document (or the reference's 76-page
        # scan) against a 10-page cap fails fast
        cases = [(fx.make_paged_pdf(12), 12)]
        scan = Path(f"{REF_PDF_DIR}/failure-after-repair.pdf")
        if scan.exists():
            cases.append((scan.read_bytes(), 76))
        try:
            image_parser.set_ocr_agent(lambda arr, w, h: [])
            for raw, pages in cases:
                with pytest.raises(PageCountExceededError) as ei:
                    pdf_to_elements(raw, strategy="hi_res", pdf_hi_res_max_pages=10)
                assert ei.value.document_pages == pages
                assert ei.value.pdf_hi_res_max_pages == 10
        finally:
            image_parser.set_ocr_agent(None)

    def test_cap_of_none_disables_gate(self):
        from unstructured_spark.parsers.pdf_parser import pdf_to_elements

        raws = [fx.make_paged_pdf(12)]
        paper = Path(f"{REF_PDF_DIR}/layout-parser-paper-fast.pdf")
        if paper.exists():
            raws.append(paper.read_bytes())
        for raw in raws:
            # fast strategy: the cap is irrelevant and partition succeeds
            els = pdf_to_elements(raw, strategy="fast", pdf_hi_res_max_pages=1)
            assert len(els) > 10


class TestExtractForms:
    """extract_forms=True: AcroForm fields → FormKeysValues (the engine
    reads DECLARED field bindings the reference's run_form_extraction
    stub never could — partition/pdf.py:1047-1080 raises)."""

    @staticmethod
    def _form_pdf() -> bytes:
        return (
            b"%PDF-1.4\n"
            b"1 0 obj\n<</Type/Catalog/Pages 2 0 R>>\nendobj\n"
            b"2 0 obj\n<</Type/Pages/Kids[3 0 R]/Count 1>>\nendobj\n"
            b"3 0 obj\n<</Type/Page/Parent 2 0 R/MediaBox[0 0 612 792]"
            b"/Contents 4 0 R/Annots[5 0 R 6 0 R 7 0 R]>>\nendobj\n"
            b"4 0 obj\n<</Length 44>>\nstream\n"
            b"BT /F1 12 Tf 72 700 Td (Please fill in) Tj ET\n"
            b"endstream\nendobj\n"
            b"5 0 obj\n<</Subtype/Widget/Rect[100 650 300 670]"
            b"/T(Name)/V(Jane Doe)>>\nendobj\n"
            b"6 0 obj\n<</Subtype/Widget/Rect[100 600 300 620]"
            b"/T(Email)>>\nendobj\n"
            b"7 0 obj\n<</Subtype/Widget/Rect[100 550 300 570]"
            b"/V(orphan value)>>\nendobj\n"
            b"trailer<</Root 1 0 R>>\n%%EOF"
        )

    def test_form_keys_values_element(self):
        import json

        els = pdf_to_elements(self._form_pdf(), extract_forms=True)
        [form] = [e for e in els if e["type"] == "FormKeysValues"]
        assert form["text"] == "Name: Jane Doe\nEmail: "
        meta = json.loads(form["metadata_json"])
        kv = meta["key_value_pairs"]
        assert [p["key_text"] for p in kv] == ["Name", "Email"]
        assert kv[0]["value_text"] == "Jane Doe"
        assert kv[1]["value_text"] is None
        assert meta["detection_origin"] == "acroform"
        # filled values still emit their own text elements
        assert any(e["text"] == "Jane Doe" for e in els)
        assert any(e["text"] == "orphan value" for e in els)

    def test_default_off_unchanged(self):
        els = pdf_to_elements(self._form_pdf())
        assert not any(e["type"] == "FormKeysValues" for e in els)
        texts = [e["text"] for e in els]
        assert "Jane Doe" in texts and "orphan value" in texts

    def test_hi_res_path_honors_extract_forms(self):
        # ADVICE r4: the hi_res born-digital early return used to drop
        # extract_forms silently; AcroForm elements must now ride along
        import json

        from unstructured_spark.parsers.image_parser import set_layout_model

        set_layout_model(
            lambda arr, w, h: [
                {"type": "Text", "x1": 60, "y1": 60, "x2": 550, "y2": 120}
            ]
        )
        try:
            els = pdf_to_elements(
                self._form_pdf(), strategy="hi_res", extract_forms=True
            )
        finally:
            set_layout_model(None)
        [form] = [e for e in els if e["type"] == "FormKeysValues"]
        assert form["text"] == "Name: Jane Doe\nEmail: "
        kv = json.loads(form["metadata_json"])["key_value_pairs"]
        assert [p["key_text"] for p in kv] == ["Name", "Email"]
        # filled widget values still emit their own text elements
        assert any(e["text"] == "Jane Doe" for e in els)

    def test_api_partition_extract_forms(self, tmp_path):
        import json

        from unstructured_spark.api import partition

        p = tmp_path / "form.pdf"
        p.write_bytes(self._form_pdf())
        els = partition(str(p), extract_forms=True)
        [form] = [e for e in els if e.category == "FormKeysValues"]
        assert form.text.startswith("Name: Jane Doe")
