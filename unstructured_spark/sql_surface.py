"""SQL-facing engine surface: table functions + scalar UDF registry
(SURVEY §4 item 4 — ``PARTITION_DOC(...)`` as a SQL TVF via Python
UDTF; §2.10 "UDF surface" row).

After ``register_sql_surface(spark)``::

    SELECT d.doc_id, p.*
    FROM docs d, LATERAL partition_doc(d.content, d.path) p

    SELECT clean_text(' • spam  ') -- 'spam'
    SELECT detect_filetype_name(NULL, content) FROM raw_files
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.functions import udtf


@udtf(returnType=(
    "element_index int, element_id string, type string, text string, "
    "page_number int, category_depth int, parent_id string, languages array<string>"
))
class PartitionDocUdtf:
    """One document's bytes → ordered element rows (lateral-join shape:
    the SQL analog of the ``partition_documents`` operator)."""

    def eval(self, content, filename=None):  # noqa: D102
        for r in _udtf_rows(content, filename):
            yield (
                r["element_index"], r["element_id"], r["type"], r["text"],
                r["page_number"], r["category_depth"], r["parent_id"],
                r["languages"],
            )


def _udtf_rows(content, filename) -> list[dict]:
    """``document_rows`` for one SQL row; malformed or unsupported
    bytes yield no rows (the ``on_error='skip'`` contract)."""
    from unstructured_spark.operators.partition_auto import document_rows
    from unstructured_spark.parsers.dispatch import UnsupportedFormatError

    if content is None:
        return []
    raw = bytes(content) if not isinstance(content, (bytes, str)) else content
    try:
        return document_rows(raw, doc_id=filename or "doc", path=filename)
    except (UnsupportedFormatError, ValueError):
        return []


def register_sql_surface(spark: SparkSession) -> None:
    """Install the engine's SQL names into a session."""
    spark.udtf.register("partition_doc", PartitionDocUdtf)

    def _clean_text(s: str | None) -> str | None:
        if s is None:
            return None
        import re

        from unstructured_spark.functions.patterns import _BULLET_CLASS

        s = re.sub(r"^\s*[" + _BULLET_CLASS + r"]\s*", "", s)
        return re.sub(r"\s+", " ", s).strip()

    def _detect(filename: str | None, head) -> str | None:
        from unstructured_spark.parsers.filetype import detect_filetype

        raw = bytes(head) if head is not None else None
        return detect_filetype(filename=filename, head=raw)

    spark.udf.register("clean_text", _clean_text, "string")
    spark.udf.register("detect_filetype_name", _detect, "string")

    def _lang(s: str | None) -> str | None:
        if not s:
            return None
        from unstructured_spark.operators.metadata import py_detect_language

        return py_detect_language(s)

    spark.udf.register("detect_language", _lang, "string")
    spark.udtf.register("chunk_doc", ChunkDocUdtf)


@udtf(returnType=(
    "chunk_index int, type string, text string, is_continuation boolean"
))
class ChunkDocUdtf:
    """Partition + chunk one document's bytes in a single LATERAL call —
    the SQL analog of ``partition_and_chunk`` (one-call flow). Strategy
    fixed to ``by_title`` with the caller's window:

        SELECT d.doc_id, c.*
        FROM docs d, LATERAL chunk_doc(d.content, d.path, 500) c
    """

    def eval(self, content, filename=None, max_characters: int = 500):  # noqa: D102
        from unstructured_spark.api import _chunk_rows

        rows = _udtf_rows(content, filename)
        if not rows:
            return
        chunks = _chunk_rows(rows, "by_title", max_characters=int(max_characters))
        for i, ch in enumerate(chunks):
            yield (
                i,
                ch.get("type"),
                ch.get("text"),
                bool(ch.get("is_continuation")),
            )
