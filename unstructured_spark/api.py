"""Drop-in local API facade over the Spark-native engine.

A user of the reference library calls

    from unstructured.partition.auto import partition
    elements = partition(filename="report.pdf")
    elements[0].text, elements[0].category, elements[0].metadata.page_number

This module provides the same call shape on top of this repo's parser
dispatch so single-document workloads port with an import swap
(reference ``partition/auto.py:30-300`` for the signature,
``documents/elements.py:150-487,585-701`` for the Element/metadata
surface, ``staging/base.py:263-478`` for the JSON staging helpers).
The heavy lifting is the exact same code the Spark operators run
executor-side (``operators.partition_auto.document_rows`` + the
chunking fold), so local results match a ``partition_documents``
DataFrame row-for-row.

This facade is intentionally driver-local: one process, one document.
The distributed path for corpora is ``operators.partition_auto
.partition_documents`` over a documents DataFrame.
"""

from __future__ import annotations

import io
import json
import re
from typing import IO, Any, Iterable

from unstructured_spark.schema import ELEMENT_SCHEMA

_ROW_COLUMNS = [f.name for f in ELEMENT_SCHEMA.fields]
_TOP_LEVEL = ("element_id", "type", "text", "doc_id", "element_index", "metadata_json")
_META_FIELDS = tuple(c for c in _ROW_COLUMNS if c not in _TOP_LEVEL)

# internal tag → reference wire tag (elements.py:657-701)
_WIRE_TYPE = {"Text": "UncategorizedText"}
_WIRE_TYPE_INV = {v: k for k, v in _WIRE_TYPE.items()}


class ElementMetadata:
    """Attribute namespace over the sparse metadata record (reference
    ``documents/elements.py:150-487``): unknown fields read as None,
    ``to_dict()`` drops nulls like the reference serializer."""

    def __init__(self, **fields: Any) -> None:
        self.__dict__.update(
            {k: v for k, v in fields.items() if v is not None}
        )

    def __getattr__(self, name: str) -> Any:  # only called when missing
        if name.startswith("__"):
            raise AttributeError(name)
        return None

    def to_dict(self) -> dict:
        return {k: v for k, v in self.__dict__.items() if v is not None}

    def __repr__(self) -> str:  # pragma: no cover - debugging aid
        return f"ElementMetadata({self.to_dict()!r})"

    def __eq__(self, other: object) -> bool:
        return isinstance(other, ElementMetadata) and self.to_dict() == other.to_dict()


class Element:
    """One partitioned document element (reference elements.py:585-701):
    ``.text``, ``.category`` (the type tag), ``.id``, ``.metadata``;
    ``str(element)`` is its text; ``.to_dict()`` is the JSON wire shape.
    """

    def __init__(
        self,
        text: str = "",
        category: str = "Text",
        element_id: str | None = None,
        metadata: ElementMetadata | None = None,
    ) -> None:
        self.text = text
        self.category = category
        self.id = element_id
        self.metadata = metadata or ElementMetadata()

    def __str__(self) -> str:
        return self.text or ""

    def __repr__(self) -> str:  # pragma: no cover - debugging aid
        return f"<{self.category} {self.text[:40]!r}>"

    def __eq__(self, other: object) -> bool:
        return (
            isinstance(other, Element)
            and (self.text, self.category, self.id) == (other.text, other.category, other.id)
            and self.metadata == other.metadata
        )

    def to_dict(self) -> dict:
        return {
            "type": _WIRE_TYPE.get(self.category, self.category),
            "element_id": self.id,
            "text": self.text or "",
            "metadata": self.metadata.to_dict(),
        }

    @classmethod
    def from_row(cls, row: dict) -> "Element":
        meta = {k: row.get(k) for k in _META_FIELDS}
        extra = row.get("metadata_json")
        if extra:
            try:
                meta.update(json.loads(extra))
            except (TypeError, ValueError):
                pass
        return cls(
            text=row.get("text") or "",
            category=row.get("type") or "Text",
            element_id=row.get("element_id"),
            metadata=ElementMetadata(**meta),
        )

    @classmethod
    def from_dict(cls, d: dict) -> "Element":
        t = d.get("type") or "Text"
        return cls(
            text=d.get("text") or "",
            category=_WIRE_TYPE_INV.get(t, t),
            element_id=d.get("element_id"),
            metadata=ElementMetadata(**(d.get("metadata") or {})),
        )


def _read_source(
    filename: str | None,
    file: IO[bytes] | None,
    text: str | None,
    url: str | None,
    headers: dict[str, str] | None,
    request_timeout: float | None,
    content_type: str | None,
) -> tuple[bytes, str | None, str | None]:
    """Resolve the reference's four source kwargs to (bytes, name, ctype).

    Exactly one of filename/file/text/url must be given
    (reference auto.py:141-166 raises the same way).
    """
    given = [s for s in (filename, file, text, url) if s is not None]
    if len(given) != 1:
        raise ValueError("Exactly one of filename, file, text or url must be specified.")
    if filename is not None:
        with open(filename, "rb") as f:
            return f.read(), filename, content_type
    if file is not None:
        data = file.read()
        if isinstance(data, str):
            data = data.encode("utf-8")
        name = getattr(file, "name", None)
        return data, (name if isinstance(name, str) else None), content_type
    if text is not None:
        return text.encode("utf-8"), None, content_type or "text/plain"
    from unstructured_spark.sources.remote import fetch_url

    data, ct = fetch_url(url, content_type=content_type, headers=headers, timeout=request_timeout)
    name = url.rstrip("/").rsplit("/", 1)[-1] or url
    return data, name, ct


def partition(
    filename: str | None = None,
    *,
    file: IO[bytes] | None = None,
    text: str | None = None,
    url: str | None = None,
    content_type: str | None = None,
    metadata_filename: str | None = None,
    headers: dict[str, str] | None = None,
    request_timeout: float | None = None,
    html_parser_version: str | None = None,
    strategy: str | None = None,
    extract_forms: bool = False,
    extract_images_in_pdf: bool = False,
    chunking_strategy: str | None = None,
    **chunking_kwargs: Any,
) -> list[Element]:
    """Partition one document into ordered elements — the reference's
    ``partition(filename=..., chunking_strategy=...)`` call shape
    (auto.py:30-300). Dispatch, parsing, metadata finalization and the
    optional chunking fold are the same functions the Spark operators
    run executor-side."""
    from unstructured_spark.operators.partition_auto import document_rows

    data, name, ctype = _read_source(
        filename, file, text, url, headers, request_timeout, content_type
    )
    display_name = metadata_filename or name
    parser_kwargs: dict[str, Any] = {}
    if strategy is not None:
        parser_kwargs["strategy"] = strategy
    if extract_forms:
        parser_kwargs["extract_forms"] = True
    if extract_images_in_pdf:
        parser_kwargs["extract_images"] = True
    rows = document_rows(
        data,
        doc_id=display_name or "document",
        path=display_name,
        content_type=ctype,
        html_parser_version=html_parser_version,
        **parser_kwargs,
    )
    if chunking_strategy is not None:
        rows = _chunk_rows(rows, chunking_strategy, **chunking_kwargs)
    return [Element.from_row(r) for r in rows]


def _chunk_rows(rows: list[dict], strategy: str, **kwargs: Any) -> list[dict]:
    from unstructured_spark.operators.chunking import ChunkingOptions, _chunk_doc

    if strategy not in ("basic", "by_title"):
        raise ValueError(f"unknown chunking strategy {strategy!r}")
    opts = ChunkingOptions(**kwargs)
    return _chunk_doc(rows, opts, by_title=(strategy == "by_title"))


def chunk_elements(elements: Iterable[Element], **kwargs: Any) -> list[Element]:
    """Local ``chunk_elements`` (reference chunking/basic.py)."""
    return _chunk_local(elements, "basic", **kwargs)


def chunk_by_title(elements: Iterable[Element], **kwargs: Any) -> list[Element]:
    """Local ``chunk_by_title`` (reference chunking/title.py)."""
    return _chunk_local(elements, "by_title", **kwargs)


def _chunk_local(elements: Iterable[Element], strategy: str, **kwargs: Any) -> list[Element]:
    rows = []
    for idx, e in enumerate(elements):
        row = {c: None for c in _ROW_COLUMNS}
        row.update({k: v for k, v in e.metadata.to_dict().items() if k in row})
        row["doc_id"] = "document"
        row["element_index"] = idx
        row["element_id"] = e.id
        row["text"] = e.text
        row["type"] = e.category
        rows.append(row)
    return [Element.from_row(r) for r in _chunk_rows(rows, strategy, **kwargs)]


# ---------------------------------------------------------------------------
# staging helpers (reference staging/base.py:263-478)
# ---------------------------------------------------------------------------


def convert_to_dict(elements: Iterable[Element]) -> list[dict]:
    return [e.to_dict() for e in elements]


def elements_to_json(
    elements: Iterable[Element],
    filename: str | None = None,
    indent: int = 4,
) -> str | None:
    """Serialize to the reference's element-JSON wire format; write to
    ``filename`` when given, else return the JSON string."""
    s = json.dumps(convert_to_dict(elements), indent=indent, ensure_ascii=False)
    if filename is not None:
        with open(filename, "w", encoding="utf-8") as f:
            f.write(s)
        return None
    return s


def elements_from_json(
    filename: str | None = None, text: str | None = None
) -> list[Element]:
    """Re-ingest reference-format element JSON (reference
    staging/base.py:428-478 / partition/json.py)."""
    if (filename is None) == (text is None):
        raise ValueError("Exactly one of filename or text must be specified.")
    raw = text if text is not None else open(filename, encoding="utf-8").read()
    return [Element.from_dict(d) for d in json.loads(raw)]


# ---------------------------------------------------------------------------
# per-format convenience wrappers (reference partition/<fmt>.py entry points)
# ---------------------------------------------------------------------------


def _format_partitioner(fmt_content_type: str, doc: str):
    def _fn(
        filename: str | None = None,
        *,
        file: IO[bytes] | None = None,
        text: str | None = None,
        url: str | None = None,
        **kwargs: Any,
    ) -> list[Element]:
        if text is not None and fmt_content_type != "text/plain":
            # route typed text through bytes so detection honors the format
            file = io.BytesIO(text.encode("utf-8"))
            text = None
        return partition(
            filename,
            file=file,
            text=text,
            url=url,
            content_type=fmt_content_type,
            **kwargs,
        )

    _fn.__name__ = doc
    _fn.__doc__ = (
        f"Reference-parity ``{doc}()`` entry point: ``partition()`` with "
        f"content_type={fmt_content_type!r} pre-applied."
    )
    return _fn


partition_text = _format_partitioner("text/plain", "partition_text")
partition_html = _format_partitioner("text/html", "partition_html")
partition_md = _format_partitioner("text/markdown", "partition_md")
partition_csv = _format_partitioner("text/csv", "partition_csv")
partition_tsv = _format_partitioner("text/tsv", "partition_tsv")
partition_xml = _format_partitioner("application/xml", "partition_xml")
partition_email = _format_partitioner("message/rfc822", "partition_email")
partition_docx = _format_partitioner(
    "application/vnd.openxmlformats-officedocument.wordprocessingml.document",
    "partition_docx",
)
partition_pptx = _format_partitioner(
    "application/vnd.openxmlformats-officedocument.presentationml.presentation",
    "partition_pptx",
)
partition_xlsx = _format_partitioner(
    "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet",
    "partition_xlsx",
)
partition_pdf = _format_partitioner("application/pdf", "partition_pdf")
partition_epub = _format_partitioner("application/epub+zip", "partition_epub")
partition_msg = _format_partitioner("application/vnd.ms-outlook", "partition_msg")
partition_rtf = _format_partitioner("application/rtf", "partition_rtf")
partition_odt = _format_partitioner(
    "application/vnd.oasis.opendocument.text", "partition_odt"
)
partition_org = _format_partitioner("text/org", "partition_org")
partition_rst = _format_partitioner("text/x-rst", "partition_rst")
partition_json = _format_partitioner("application/json", "partition_json")


# ---------------------------------------------------------------------------
# staging converters (reference staging/base.py:263-733) — local forms of
# the distributed serde/staging operators, same render rules
# ---------------------------------------------------------------------------


def convert_to_text(elements: Iterable[Element]) -> str:
    """Clean concatenated text (reference staging/base.py:529-532:
    newline join of non-empty texts)."""
    return "\n".join(e.text for e in elements if getattr(e, "text", None))


def elements_to_text(
    elements: Iterable[Element], filename: str | None = None, encoding: str = "utf-8"
) -> str | None:
    out = convert_to_text(elements)
    if filename is not None:
        with open(filename, "w", encoding=encoding) as f:
            f.write(out)
        return None
    return out


# Formula → $$ display-math heuristics (reference staging/base.py:40-165;
# behavior pinned against expected-structured-output-markdown goldens).
_FORMULA_PROSE_HINT = re.compile(
    r"\b(was|were|using|calculated|where|respectively|determined|following)\b",
    re.IGNORECASE,
)
_FORMULA_SUBS = {
    "−": "-",
    "×": r"\times{}",
    "÷": r"\div{}",
    "∞": r"\infty{}",
    "∈": r"\in{}",
    "∉": r"\notin{}",
    "≤": r"\leq{}",
    "≥": r"\geq{}",
    "≈": r"\approx{}",
    "≠": r"\neq{}",
}


def _formula_math_signal_score(text: str) -> int:
    score = 0
    if re.search(r"\\[a-zA-Z]+", text):
        score += 3
    if "^" in text:
        score += 1
    if re.search(r"_(\{|[0-9A-Za-z])", text):
        score += 1
    score += min(len(re.findall(r"[∈∉≤≥≠≈×÷∞∑∫√∂∇]", text)) * 2, 6)
    if re.search(r"[¼½¾]", text):
        score += 1
    score += min(
        len(re.findall(r"(?<=[A-Za-z0-9\)\]])\s*=\s*(?=[A-Za-z0-9\(\\])", text)), 2
    )
    if re.search(r"(?<=[A-Za-z])\([^)]*\)\s*=\s*", text):
        score += 2
    return score


def _emit_formula_markdown(
    raw_text: str, *, normalize_formula: bool = True, style: str = "auto"
) -> str:
    raw = raw_text.strip()
    if not raw or style == "plain" or "$" in raw:
        return raw
    if style == "display_math":
        use = True
    else:  # auto
        score = _formula_math_signal_score(raw)
        prose = len(raw) >= 80 and _FORMULA_PROSE_HINT.search(raw) is not None
        use = score >= (3 if prose else 2)
    if not use:
        return raw
    body = raw
    if normalize_formula:
        for src, dst in _FORMULA_SUBS.items():
            body = body.replace(src, dst)
    return f"$$\n{body}\n$$"


def element_to_md(
    element: Element,
    exclude_binary_image_data: bool = False,
    normalize_formula: bool = True,
    *,
    formula_markdown_style: str = "auto",
) -> str:
    """Markdown for one element — reference-exact
    (staging/base.py:273-305, behavior pinned byte-for-byte against
    the expected-structured-output-markdown goldens): Title → '# ',
    Formula → $$ heuristics, Table with HTML → its HTML, Image →
    data-URI / URL link, everything else → its text."""
    t = element.to_dict()
    typ = t.get("type")
    text = t.get("text") or ""
    meta = t.get("metadata", {}) or {}
    if typ == "Title":
        return f"# {text}"
    if typ == "Formula":
        return _emit_formula_markdown(
            text,
            normalize_formula=normalize_formula,
            style=formula_markdown_style,
        )
    if typ in ("Table", "TableChunk") and meta.get("text_as_html") is not None:
        return meta["text_as_html"]
    if typ == "Image":
        b64 = meta.get("image_base64")
        if b64 is not None and not exclude_binary_image_data:
            mime = meta.get("image_mime_type")
            return f"![{text}](data:{mime or 'image/*'};base64,{b64})"
        if meta.get("image_url") is not None:
            return f"![{text}]({meta['image_url']})"
    return text


def elements_to_md(
    elements: Iterable[Element],
    filename: str | None = None,
    exclude_binary_image_data: bool = False,
    encoding: str = "utf-8",
    normalize_formula: bool = True,
    *,
    formula_markdown_style: str = "auto",
) -> str | None:
    out = "\n".join(
        element_to_md(
            e,
            exclude_binary_image_data=exclude_binary_image_data,
            normalize_formula=normalize_formula,
            formula_markdown_style=formula_markdown_style,
        )
        for e in elements
    )
    if filename is not None:
        with open(filename, "w", encoding=encoding) as f:
            f.write(out)
        return None
    return out


def elements_to_ndjson(
    elements: Iterable[Element], filename: str | None = None, encoding: str = "utf-8"
) -> str | None:
    """One JSON element-dict per line (reference staging/base.py:458-478)."""
    out = "\n".join(json.dumps(e.to_dict(), sort_keys=True) for e in elements)
    if filename is not None:
        with open(filename, "w", encoding=encoding) as f:
            f.write(out)
        return None
    return out


def flatten_dict(d: dict, separator: str = "_") -> dict:
    """Flatten nested dicts into separator-joined keys (reference
    staging/base.py:551-597; lists kept as-is)."""
    out: dict = {}
    for k, v in d.items():
        if isinstance(v, dict):
            for kk, vv in flatten_dict(v, separator).items():
                out[f"{k}{separator}{kk}"] = vv
        else:
            out[k] = v
    return out


def convert_to_csv(elements: Iterable[Element]) -> str:
    """CSV with type/text/element_id + flattened metadata columns
    (reference staging/base.py:604-630 shape: union of populated
    fields, stable order)."""
    import csv as _csv

    rows = []
    for e in elements:
        d = e.to_dict()
        flat = flatten_dict(d.get("metadata", {}) or {})
        rows.append(
            {"type": d.get("type"), "text": d.get("text"), "element_id": d.get("element_id"), **flat}
        )
    fieldnames = ["type", "text", "element_id"] + sorted(
        {k for r in rows for k in r} - {"type", "text", "element_id"}
    )
    buf = io.StringIO()
    w = _csv.DictWriter(buf, fieldnames=fieldnames, extrasaction="ignore")
    w.writeheader()
    for r in rows:
        w.writerow({k: r.get(k, "") for k in fieldnames})
    return buf.getvalue()


def convert_to_dataframe(elements: Iterable[Element]):
    """pandas DataFrame of the CSV shape (reference staging/base.py:681-704)."""
    import pandas as pd

    rows = []
    for e in elements:
        d = e.to_dict()
        flat = flatten_dict(d.get("metadata", {}) or {})
        rows.append(
            {"type": d.get("type"), "text": d.get("text"), "element_id": d.get("element_id"), **flat}
        )
    return pd.DataFrame(rows)


def filter_element_types(
    elements: Iterable[Element],
    include_element_types: list[str] | None = None,
    exclude_element_types: list[str] | None = None,
) -> list[Element]:
    """Keep/drop by element type tag (reference staging/base.py:705-732;
    types given as tag strings here — this engine has no class
    hierarchy). Exactly one of include/exclude must be given."""
    if (include_element_types is None) == (exclude_element_types is None):
        raise ValueError(
            "Exactly one of include_element_types and exclude_element_types "
            "must be specified."
        )
    if include_element_types is not None:
        allowed = set(include_element_types)
        return [e for e in elements if e.to_dict().get("type") in allowed]
    blocked = set(exclude_element_types or ())
    return [e for e in elements if e.to_dict().get("type") not in blocked]


def elements_to_base64_gzipped_json(elements: Iterable[Element]) -> str:
    """Compressed orig_elements codec (reference staging/base.py:241-260),
    via the same pure-Python codec the Spark serde operator uses."""
    from unstructured_spark.operators.serde import encode_orig_elements

    return encode_orig_elements([e.to_dict() for e in elements])


def elements_from_base64_gzipped_json(encoded: str) -> list[Element]:
    """Inverse codec with the 200 MB decompression-bomb guard
    (reference staging/base.py:167-192)."""
    from unstructured_spark.operators.serde import decode_orig_elements

    return [Element.from_dict(d) for d in decode_orig_elements(encoded)]


def elements_to_html(
    elements: Iterable[Element],
    exclude_binary_image_data: bool = False,
    no_group_by_page: bool = False,
) -> str:
    """Standalone HTML document render (reference
    partition/html/convert.py elements_to_html) — byte-identical to
    the reference's BeautifulSoup prettify output (pinned against
    every expected-structured-output-html golden)."""
    from unstructured_spark.html_render import elements_to_html as _render

    return _render(
        [e.to_dict() for e in elements],
        exclude_binary_image_data=exclude_binary_image_data,
        no_group_by_page=no_group_by_page,
    )


def create_file_from_elements(
    elements: Iterable[Element],
    output_format: str = "markdown",
    filename: str | None = None,
    encoding: str = "utf-8",
    exclude_binary_image_data: bool = False,
    no_group_by_page: bool = True,
    normalize_formula: bool = True,
    *,
    formula_markdown_style: str = "auto",
) -> str:
    """Re-create a document file from elements (reference
    staging/base.py:353-431): markdown, html, or text."""
    fmt = output_format.strip().lower()
    if fmt not in ("markdown", "html", "text"):
        raise ValueError(
            f"Unsupported format: {output_format!r}. "
            "Supported formats: 'markdown', 'html', 'text'."
        )
    els = list(elements)
    if fmt == "markdown":
        content = elements_to_md(
            els,
            exclude_binary_image_data=exclude_binary_image_data,
            normalize_formula=normalize_formula,
            formula_markdown_style=formula_markdown_style,
        )
    elif fmt == "html":
        content = elements_to_html(
            els,
            exclude_binary_image_data=exclude_binary_image_data,
            no_group_by_page=no_group_by_page,
        )
    else:
        content = convert_to_text(els)
    if filename is not None:
        with open(filename, "w", encoding=encoding) as f:
            f.write(content)
    return content
