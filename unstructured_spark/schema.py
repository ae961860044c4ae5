"""Canonical element DataFrame schema (SURVEY §1.5).

The reference models documents as ordered ``list[Element]`` with a wide,
sparse ``ElementMetadata`` record (reference:
``unstructured/documents/elements.py:718`` and ``:150-487``). Here the
same model is one columnar table: nullable struct/array columns for the
known metadata fields (Parquet null RLE makes sparsity free) plus a
``metadata_json`` escape hatch for ad-hoc fields, and an explicit
``element_index`` ordinal because document order is semantically
load-bearing (chunking, hierarchy, hash ids).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Element type taxonomy — the ~25 concrete classes of the reference
# (elements.py:819-1049) plus model-output tags normalized to them
# (TYPE_TO_TEXT_ELEMENT_MAP, elements.py:1051-1090).
# ---------------------------------------------------------------------------

ELEMENT_TYPES: tuple[str, ...] = (
    "Text",
    "Title",
    "NarrativeText",
    "ListItem",
    "Address",
    "EmailAddress",
    "Image",
    "PageBreak",
    "Table",
    "TableChunk",
    "Header",
    "Footer",
    "CodeSnippet",
    "PageNumber",
    "Formula",
    "FigureCaption",
    "Form",
    "FormKeysValues",
    "CompositeElement",
    "CheckBox",
    "DocumentData",
)

# Model-output / alias tags → canonical element type
# (reference elements.py:1051-1090, e.g. Section-header → Title).
TYPE_NORMALIZATION: dict[str, str] = {
    "UncategorizedText": "Text",
    "Section-header": "Title",
    "Headline": "Title",
    "Subheadline": "Title",
    "Abstract": "NarrativeText",
    "Threading": "NarrativeText",
    "Paragraph": "NarrativeText",
    "Field-Name": "Title",
    "Value": "NarrativeText",
    "Link": "NarrativeText",
    "List": "ListItem",
    "List-item": "ListItem",
    "Figure": "Image",
    "Picture": "Image",
    "Footnote": "Footer",
    "Page-footer": "Footer",
    "Page-header": "Header",
    "Caption": "FigureCaption",
    "Page-number": "PageNumber",
    "Code-snippet": "CodeSnippet",
    "Form-keys-values": "FormKeysValues",
    "Checked-box": "CheckBox",
    "Unchecked-box": "CheckBox",
}

# ---------------------------------------------------------------------------
# Struct sub-schemas
# ---------------------------------------------------------------------------

COORDINATES_TYPE = T.StructType(
    [
        T.StructField(
            "points",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("x", T.DoubleType()),
                        T.StructField("y", T.DoubleType()),
                    ]
                )
            ),
        ),
        T.StructField("system", T.StringType()),
        T.StructField("layout_width", T.DoubleType()),
        T.StructField("layout_height", T.DoubleType()),
    ]
)

LINK_TYPE = T.StructType(
    [
        T.StructField("text", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("start_index", T.IntegerType()),
    ]
)

DATA_SOURCE_TYPE = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("version", T.StringType()),
        T.StructField("record_locator", T.MapType(T.StringType(), T.StringType())),
        T.StructField("date_created", T.StringType()),
        T.StructField("date_modified", T.StringType()),
        T.StructField("date_processed", T.StringType()),
    ]
)

# ---------------------------------------------------------------------------
# The canonical elements table
# ---------------------------------------------------------------------------

ELEMENT_SCHEMA = T.StructType(
    [
        T.StructField("element_id", T.StringType()),
        T.StructField("doc_id", T.StringType(), nullable=False),
        T.StructField("element_index", T.LongType(), nullable=False),
        T.StructField("type", T.StringType(), nullable=False),
        T.StructField("text", T.StringType(), nullable=False),
        # structure
        T.StructField("page_number", T.IntegerType()),
        T.StructField("page_name", T.StringType()),
        T.StructField("parent_id", T.StringType()),
        T.StructField("category_depth", T.IntegerType()),
        # layout
        T.StructField("coordinates", COORDINATES_TYPE),
        # language
        T.StructField("languages", T.ArrayType(T.StringType())),
        # text decoration
        T.StructField("emphasized_text_contents", T.ArrayType(T.StringType())),
        T.StructField("emphasized_text_tags", T.ArrayType(T.StringType())),
        T.StructField("links", T.ArrayType(LINK_TYPE)),
        # table
        T.StructField("text_as_html", T.StringType()),
        # chunking
        T.StructField("is_continuation", T.BooleanType()),
        T.StructField("orig_element_ids", T.ArrayType(T.StringType())),
        T.StructField("table_id", T.StringType()),
        T.StructField("chunk_index", T.IntegerType()),
        T.StructField("num_carried_over_header_rows", T.IntegerType()),
        # email
        T.StructField("sent_from", T.ArrayType(T.StringType())),
        T.StructField("sent_to", T.ArrayType(T.StringType())),
        T.StructField("cc_recipient", T.ArrayType(T.StringType())),
        T.StructField("bcc_recipient", T.ArrayType(T.StringType())),
        T.StructField("subject", T.StringType()),
        T.StructField("email_message_id", T.StringType()),
        # multimodal payload (opaque binary + typed metadata)
        T.StructField("image_base64", T.StringType()),
        T.StructField("image_mime_type", T.StringType()),
        # audio
        T.StructField("segment_start_seconds", T.DoubleType()),
        T.StructField("segment_end_seconds", T.DoubleType()),
        # provenance
        T.StructField("filename", T.StringType()),
        T.StructField("file_directory", T.StringType()),
        T.StructField("filetype", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("last_modified", T.StringType()),
        T.StructField("data_source", DATA_SOURCE_TYPE),
        # embeddings (Text subtypes carry embeddings, elements.py:874-878)
        T.StructField("embeddings", T.ArrayType(T.FloatType())),
        # escape hatch for ad-hoc metadata (reference allows unknown fields)
        T.StructField("metadata_json", T.StringType()),
    ]
)

ELEMENT_COLUMNS = [f.name for f in ELEMENT_SCHEMA.fields]

# Minimal projection used by most pipelines; the full schema is for serde.
CORE_COLUMNS = [
    "element_id",
    "doc_id",
    "element_index",
    "type",
    "text",
    "page_number",
    "parent_id",
    "category_depth",
]

# ---------------------------------------------------------------------------
# Consolidation strategies — per-metadata-field aggregation used when chunking
# merges elements (reference elements.py:490-579). In Spark this registry
# becomes the agg-expression list of the chunk groupBy / grouped fold.
# ---------------------------------------------------------------------------

CONSOLIDATION: dict[str, str] = {
    "coordinates": "DROP",
    "category_depth": "DROP",
    "emphasized_text_contents": "LIST_CONCATENATE",
    "emphasized_text_tags": "LIST_CONCATENATE",
    "filename": "FIRST",
    "file_directory": "FIRST",
    "filetype": "FIRST",
    "languages": "LIST_UNIQUE",
    "last_modified": "FIRST",
    "links": "LIST_CONCATENATE",
    "page_name": "FIRST",
    "page_number": "FIRST",
    "parent_id": "DROP",
    "text_as_html": "FIRST",
    "url": "FIRST",
    "sent_from": "FIRST",
    "sent_to": "FIRST",
    "cc_recipient": "FIRST",
    "bcc_recipient": "FIRST",
    "subject": "FIRST",
    "email_message_id": "FIRST",
    "data_source": "FIRST",
    "image_base64": "DROP",
    "image_mime_type": "DROP",
    "segment_start_seconds": "FIRST",
    "segment_end_seconds": "FIRST",
}
