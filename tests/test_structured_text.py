"""RST / Org structural parsers and the per-document hierarchy fold."""

from __future__ import annotations

from unstructured_spark.parsers.structured_text import (
    org_to_elements,
    rst_to_elements,
)

RST = """Example Docs
============

The sample docs directory contains the following files:

- ``one.html`` first file
- ``two.pdf`` second file

Subsection Here
---------------

Paragraph under the subsection. It spans
two source lines.

Code sample::

    print("hello")
    x = 1

.. include:: should_not_appear
"""

ORG = """* Top Heading
Some paragraph text under the heading. It is narrative.

** Nested Heading
- item one
- item two

#+BEGIN_SRC python
print("hi")
#+END_SRC
"""


class TestRst:
    def test_titles_with_depth(self):
        els = rst_to_elements(RST)
        titles = [
            (e["text"], e.get("category_depth"))
            for e in els
            if e["type"] == "Title"
        ]
        assert ("Example Docs", 0) in titles
        assert ("Subsection Here", 1) in titles

    def test_lists_and_code(self):
        els = rst_to_elements(RST)
        assert any(e["type"] == "ListItem" for e in els)
        code = next(e for e in els if e["type"] == "CodeSnippet")
        assert 'print("hello")' in code["text"]

    def test_directive_skipped(self):
        els = rst_to_elements(RST)
        assert not any("should_not_appear" in e["text"] for e in els)


class TestOrg:
    def test_headings_by_stars(self):
        els = org_to_elements(ORG)
        assert {
            (e["text"], e["category_depth"]) for e in els if e["type"] == "Title"
        } == {("Top Heading", 0), ("Nested Heading", 1)}

    def test_lists_and_src_block(self):
        els = org_to_elements(ORG)
        assert [e["text"] for e in els if e["type"] == "ListItem"] == [
            "item one", "item two",
        ]
        assert any(e["type"] == "CodeSnippet" for e in els)


class TestFinalizeHierarchy:
    def test_title_adopts_following_elements(self):
        from unstructured_spark.operators.metadata import py_finalize_doc

        for d in ("d1", "d2"):
            rows = [
                {"type": "Title", "text": "Heading", "category_depth": 0},
                {"type": "NarrativeText", "text": "Body text", "category_depth": None},
                {"type": "ListItem", "text": "item", "category_depth": 0},
            ]
            title, body, item = py_finalize_doc(rows, doc_id=d)
            assert title["parent_id"] is None
            assert body["parent_id"] == title["element_id"]
            assert item["parent_id"] == title["element_id"]
