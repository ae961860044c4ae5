"""Stdlib compactifying ``<table>`` model for table chunking.

Mirrors the behavioral contract of the reference's
``unstructured/common/html_table.py`` (HtmlTable/HtmlRow/HtmlCell over
lxml) without lxml: parse a ``text_as_html`` fragment, record which
rows are headers (``<thead>`` parent or any direct ``<th>`` cell),
drop ``<thead>/<tbody>/<tfoot>`` wrappers, strip every attribute
except the structural ``colspan``/``rowspan``, convert ``<th>`` to
``<td>``, and normalize whitespace — producing the same compact
single-line HTML the reference feeds its table splitter
(``html_table.py:66-126``).
"""

from __future__ import annotations

import html as _html_mod
import re
from dataclasses import dataclass, field
from functools import cached_property
from html.parser import HTMLParser

_KEEP_ATTRS = ("colspan", "rowspan")


@dataclass
class _Node:
    tag: str
    attrs: dict[str, str]
    children: list = field(default_factory=list)  # _Node | str


_VOID_TAGS = {"br", "hr", "img", "wbr", "col"}


class _TableParser(HTMLParser):
    """Builds a _Node tree for the first <table> element in the input."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root: _Node | None = None
        self._stack: list[_Node] = []
        self._done = False

    def handle_starttag(self, tag, attrs):
        if self._done:
            return
        if self.root is None:
            if tag != "table":
                return
            self.root = _Node("table", dict(attrs))
            self._stack = [self.root]
            return
        if not self._stack:
            return
        node = _Node(tag, {k: v for k, v in attrs if v is not None})
        self._stack[-1].children.append(node)
        if tag not in _VOID_TAGS:
            self._stack.append(node)

    def handle_startendtag(self, tag, attrs):
        if self._done or not self._stack:
            return
        self._stack[-1].children.append(_Node(tag, {k: v for k, v in attrs if v is not None}))

    def handle_endtag(self, tag):
        if self._done or not self._stack:
            return
        for i in range(len(self._stack) - 1, -1, -1):
            if self._stack[i].tag == tag:
                del self._stack[i:]
                break
        if not self._stack:
            self._done = True

    def handle_data(self, data):
        if self._done or not self._stack:
            return
        self._stack[-1].children.append(data)


def _text_content(node: _Node) -> str:
    parts: list[str] = []
    for c in node.children:
        parts.append(c if isinstance(c, str) else _text_content(c))
    return "".join(parts)


def _compact_html(node: _Node) -> str:
    """Serialize with attributes stripped (except colspan/rowspan),
    th→td, and whitespace-normalized text (reference html_table.py:88-120)."""
    tag = "td" if node.tag == "th" else node.tag
    attrs = "".join(
        f' {k}="{_html_mod.escape(node.attrs[k], quote=True)}"'
        for k in _KEEP_ATTRS
        if k in node.attrs
    )
    inner = _inner_html(node)
    if tag in _VOID_TAGS:
        return f"<{tag}{attrs}/>"
    if not inner and tag == "td":
        return f"<{tag}{attrs}/>"
    return f"<{tag}{attrs}>{inner}</{tag}>"


def _inner_html(node: _Node) -> str:
    out: list[str] = []
    for c in node.children:
        if isinstance(c, str):
            out.append(_html_mod.escape(" ".join(c.split()), quote=False) if c.strip() else "")
        else:
            out.append(_compact_html(c))
    return "".join(out)


@dataclass
class HtmlCell:
    """A compactified ``<td>`` (reference html_table.py:193-215). Text
    and HTML are built on first read and kept: the table splitter reads
    each several times."""

    node: _Node

    @cached_property
    def text(self) -> str:
        return " ".join(_text_content(self.node).split())

    @cached_property
    def html(self) -> str:
        return _compact_html(self.node) if self.text else "<td/>"


@dataclass
class HtmlRow:
    """A compactified ``<tr>`` (reference html_table.py:149-190), with
    its cell list, texts and HTML each built once."""

    node: _Node
    is_header: bool = False

    @cached_property
    def html(self) -> str:
        return _compact_html(self.node)

    @cached_property
    def cells(self) -> list[HtmlCell]:
        return [
            HtmlCell(c)
            for c in self.node.children
            if isinstance(c, _Node) and c.tag in ("td", "th")
        ]

    @cached_property
    def cell_texts(self) -> list[str]:
        """Texts of the non-empty cells."""
        return [c.text for c in self.cells if c.text]

    @cached_property
    def text(self) -> str:
        return " ".join(self.cell_texts)

    @property
    def header_html(self) -> str:
        """Row HTML with direct-child cells as ``<th>`` (reference
        _as_header_row_html, chunking/base.py:1368-1381)."""
        return re.sub(r"<(/?)td(?=[ />])", r"<\1th", self.html)


def parse_html_table(html_text: str) -> list[HtmlRow] | None:
    """Rows of the first ``<table>`` in ``html_text``, compactified.

    Returns None when no table is present or parsing fails (reference
    HtmlTable.from_html_text raising ValueError/ParserError)."""
    if not html_text or "<table" not in html_text.lower():
        return None
    p = _TableParser()
    try:
        p.feed(html_text)
        p.close()
    except Exception:
        return None
    if p.root is None:
        return None

    rows: list[HtmlRow] = []

    def walk(node: _Node, in_thead: bool) -> None:
        for c in node.children:
            if not isinstance(c, _Node):
                continue
            if c.tag == "tr":
                has_th = any(
                    isinstance(g, _Node) and g.tag == "th" for g in c.children
                )
                rows.append(HtmlRow(c, is_header=in_thead or has_th))
            elif c.tag in ("thead", "tbody", "tfoot"):
                walk(c, in_thead=c.tag == "thead")

    walk(p.root, False)
    return rows


def table_html(rows: list[HtmlRow]) -> str:
    """Compact single-line ``<table>`` HTML for ``rows``."""
    return "<table>" + "".join(r.html for r in rows) + "</table>"


def table_text(rows: list[HtmlRow]) -> str:
    """Clean concatenated text (reference HtmlTable.text, html_table.py:141-146)."""
    return " ".join(r.text for r in rows).strip()
