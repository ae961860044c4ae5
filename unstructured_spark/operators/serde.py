"""Serde / staging — element-table writers, re-ingest, filters, and
render functions (reference ``staging/base.py``; SURVEY §2.8).

Writers are native (``df.write.json/parquet/csv``) — Spark handles
partitioned output, compression, and atomic commits. The element→dict
shaping matches the reference's serialized form: sparse metadata under
a ``metadata`` key, ``type``/``element_id``/``text`` at the top level.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from unstructured_spark.schema import ELEMENT_SCHEMA

_TOP_LEVEL = ("element_id", "type", "text")
_META_FIELDS = tuple(
    f.name
    for f in ELEMENT_SCHEMA.fields
    if f.name not in (*_TOP_LEVEL, "doc_id", "element_index", "metadata_json")
)


def elements_to_dicts_df(df: DataFrame) -> DataFrame:
    """Shape the wide element table into the reference's wire form:
    (doc_id, element_index, element json-ready struct).

    The internal 'Text' tag serializes as 'UncategorizedText' — the
    reference's base Text element category (elements.py:657-701) —
    so JSON output round-trips against reference-produced files."""
    meta = F.struct(*[F.col(c) for c in _META_FIELDS if c in df.columns])
    wire_type = F.when(F.col("type") == "Text", F.lit("UncategorizedText")).otherwise(
        F.col("type")
    )
    return df.select(
        "doc_id",
        "element_index",
        F.struct(
            F.col("element_id"),
            wire_type.alias("type"),
            F.col("text"),
            meta.alias("metadata"),
        ).alias("element"),
    )


def write_elements_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """NDJSON output, one element per line (sparse: nulls dropped by
    ``to_json`` with ignoreNullFields)."""
    out = elements_to_dicts_df(df).select(
        F.to_json("element", {"ignoreNullFields": "true"}).alias("value")
    )
    out.write.mode(mode).text(path)


def write_elements_parquet(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Columnar element table — the scale-native form; sparse metadata
    costs nothing (null RLE)."""
    df.write.mode(mode).parquet(path)


def write_elements_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Flattened CSV with the reference's TABLE_FIELDNAMES-style core
    columns (staging/base.py:507-624)."""
    cols = [
        "type", "text", "element_id", "doc_id", "element_index",
        "filename", "file_directory", "filetype", "url", "page_number",
        "parent_id", "category_depth", "text_as_html", "last_modified",
    ]
    out = df.select(*[F.col(c) for c in cols if c in df.columns])
    out.write.mode(mode).option("header", "true").csv(path)


def read_elements_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(ELEMENT_SCHEMA).parquet(path)


def read_elements_json(spark: SparkSession, path: str) -> DataFrame:
    """Re-ingest serialized element NDJSON (partition_json equivalent,
    reference partition/json.py:30-100) — native reader + schema."""
    wire = spark.read.json(path)
    cols = []
    top = {"element_id", "type", "text"}
    for f in ELEMENT_SCHEMA.fields:
        if f.name == "doc_id":
            cols.append(
                (F.col("doc_id") if "doc_id" in wire.columns else F.lit("unknown"))
                .cast("string").alias("doc_id")
            )
        elif f.name == "element_index":
            cols.append(
                (F.col("element_index") if "element_index" in wire.columns
                 else F.monotonically_increasing_id()).cast("long").alias("element_index")
            )
        elif f.name in top:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        elif "metadata" in wire.columns and f.name in [
            sf.name for sf in wire.schema["metadata"].dataType.fields  # type: ignore[union-attr]
        ]:
            cols.append(F.col(f"metadata.{f.name}").cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return wire.select(*cols)


def filter_element_types(
    df: DataFrame,
    include: list[str] | None = None,
    exclude: list[str] | None = None,
) -> DataFrame:
    """Reference staging/base.py:705-731 — native filter (pushes to scan)."""
    if include and exclude:
        raise ValueError("specify include or exclude, not both")
    if include:
        return df.filter(F.col("type").isin(include))
    if exclude:
        return df.filter(~F.col("type").isin(exclude))
    return df


def _formula_md_expr(text: Column) -> Column:
    """Native form of the reference Formula→$$ heuristics
    (staging/base.py:90-165, behavior pinned by the facade's
    markdown-golden sweep; ``tests/test_staging_sql.py`` asserts this
    expression agrees with ``api.element_to_md`` row-for-row): math-
    signal score from regexp counts, prose demotion for long OCR
    captions, unsafe-$ passthrough, unicode→LaTeX normalization."""
    raw = F.trim(text)
    score = (
        F.when(raw.rlike(r"\\[a-zA-Z]+"), F.lit(3)).otherwise(F.lit(0))
        + F.when(F.contains(raw, F.lit("^")), F.lit(1)).otherwise(F.lit(0))
        + F.when(raw.rlike(r"_(\{|[0-9A-Za-z])"), F.lit(1)).otherwise(F.lit(0))
        + F.least(F.regexp_count(raw, F.lit(r"[∈∉≤≥≠≈×÷∞∑∫√∂∇]")) * 2, F.lit(6))
        + F.when(raw.rlike(r"[¼½¾]"), F.lit(1)).otherwise(F.lit(0))
        + F.least(
            F.regexp_count(raw, F.lit(r"(?<=[A-Za-z0-9\)\]])\s*=\s*(?=[A-Za-z0-9\(\\])")),
            F.lit(2),
        )
        + F.when(raw.rlike(r"(?<=[A-Za-z])\([^)]*\)\s*="), F.lit(2)).otherwise(F.lit(0))
    )
    prose = (F.length(raw) >= 80) & raw.rlike(
        r"(?i)\b(was|were|using|calculated|where|respectively|determined|following)\b"
    )
    use = F.when(prose, score >= 3).otherwise(score >= 2)
    body = raw
    for src, dst in (
        ("−", "-"), ("×", "\\times{}"), ("÷", "\\div{}"), ("∞", "\\infty{}"),
        ("∈", "\\in{}"), ("∉", "\\notin{}"), ("≤", "\\leq{}"),
        ("≥", "\\geq{}"), ("≈", "\\approx{}"), ("≠", "\\neq{}"),
    ):
        body = F.replace(body, F.lit(src), F.lit(dst))
    return F.when(
        (raw == "") | F.contains(raw, F.lit("$")) | ~use, raw
    ).otherwise(F.concat(F.lit("$$\n"), body, F.lit("\n$$")))


def render_markdown_expr() -> Column:
    """Markdown rendering of one element — reference-exact
    (staging/base.py:273-305; the same rules the facade pins
    byte-for-byte against all 172 markdown goldens): Title → '# ',
    Formula → $$ heuristics, Table with HTML → its HTML, Image →
    data-URI/URL link, everything else → its text."""
    meta_b64 = F.get_json_object(F.col("metadata_json"), "$.image_base64")
    meta_mime = F.get_json_object(F.col("metadata_json"), "$.image_mime_type")
    meta_url = F.get_json_object(F.col("metadata_json"), "$.image_url")
    return (
        F.when(F.col("type") == "Title", F.concat(F.lit("# "), F.col("text")))
        .when(F.col("type") == "Formula", _formula_md_expr(F.col("text")))
        .when(
            F.col("type").isin("Table", "TableChunk")
            & F.col("text_as_html").isNotNull(),
            F.col("text_as_html"),
        )
        .when(
            (F.col("type") == "Image") & meta_b64.isNotNull(),
            F.concat(
                F.lit("!["), F.col("text"), F.lit("](data:"),
                F.coalesce(meta_mime, F.lit("image/*")),
                F.lit(";base64,"), meta_b64, F.lit(")"),
            ),
        )
        .when(
            (F.col("type") == "Image") & meta_url.isNotNull(),
            F.concat(F.lit("!["), F.col("text"), F.lit("]("), meta_url, F.lit(")")),
        )
        .otherwise(F.col("text"))
    )


def elements_to_markdown(df: DataFrame) -> DataFrame:
    """One markdown string per document (order-correct agg; the "\\n"
    join matches reference elements_to_md, staging/base.py:334-343)."""
    rendered = df.withColumn("_md", render_markdown_expr())
    return (
        rendered.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("element_index", "_md"))
                    ),
                    lambda s: s["_md"],
                ),
                "\n",
            ).alias("markdown")
        )
    )


def _html_escape(c: Column) -> Column:
    return F.replace(
        F.replace(
            F.replace(c, F.lit("&"), F.lit("&amp;")),
            F.lit("<"),
            F.lit("&lt;"),
        ),
        F.lit(">"),
        F.lit("&gt;"),
    )


def render_html_expr() -> Column:
    """HTML rendering of one element (reference ``html/convert.py``
    elements→HTML page, via the ontology tag mapping): Titles →
    ``<h{depth+1}>``, ListItem → ``<li>``, Table → its ``text_as_html``
    when present, CodeSnippet → ``<pre>``, PageBreak → ``<hr/>``,
    Image → ``<img>``, everything else → ``<p>``. Pure column
    expression — whole-stage codegen, no UDF."""
    depth = F.coalesce(F.col("category_depth"), F.lit(0))
    hlevel = F.least(depth + 1, F.lit(6)).cast("int").cast("string")
    esc = _html_escape(F.col("text"))
    return (
        F.when(
            F.col("type") == "Title",
            F.concat(
                F.lit("<h"), hlevel, F.lit(">"), esc,
                F.lit("</h"), hlevel, F.lit(">"),
            ),
        )
        .when(F.col("type") == "ListItem", F.concat(F.lit("<li>"), esc, F.lit("</li>")))
        .when(
            F.col("type") == "CodeSnippet",
            F.concat(F.lit("<pre>"), esc, F.lit("</pre>")),
        )
        .when(
            (F.col("type") == "Table") & F.col("text_as_html").isNotNull(),
            F.col("text_as_html"),
        )
        .when(F.col("type") == "Table", F.concat(F.lit("<table>"), esc, F.lit("</table>")))
        .when(F.col("type") == "PageBreak", F.lit("<hr/>"))
        .when(
            F.col("type") == "Image",
            F.concat(F.lit('<img alt="'), esc, F.lit('"/>')),
        )
        .otherwise(F.concat(F.lit("<p>"), esc, F.lit("</p>")))
    )


def elements_to_html(df: DataFrame) -> DataFrame:
    """One HTML document string per doc_id (order-correct agg;
    reference ``create_file_from_elements`` / ``html/convert.py``)."""
    rendered = df.withColumn("_html", render_html_expr())
    body = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("element_index", "_html"))),
            lambda s: s["_html"],
        ),
        "\n",
    )
    return rendered.groupBy("doc_id").agg(
        F.concat(
            F.lit("<!DOCTYPE html>\n<html><body>\n"),
            body,
            F.lit("\n</body></html>"),
        ).alias("html")
    )


# ---------------------------------------------------------------------------
# orig_elements wire codec (reference staging/base.py:41,167-192,241-260):
# chunks serialize their pre-chunk source elements as base64(zlib(JSON))
# with a decompression-bomb guard on re-ingest. The engine itself stores
# orig_element_ids (SURVEY §7: "store ids, not nested blobs"); this
# codec exists for wire compatibility with reference-produced JSON.
# ---------------------------------------------------------------------------

_MAX_DECOMPRESSED_BYTES = 200 * 1024 * 1024  # reference's 200 MB guard


def encode_orig_elements(element_dicts: list[dict]) -> str:
    import base64
    import json
    import zlib

    payload = json.dumps(element_dicts, separators=(",", ":")).encode("utf-8")
    return base64.b64encode(zlib.compress(payload)).decode("ascii")


def decode_orig_elements(encoded: str) -> list[dict]:
    import base64
    import json
    import zlib

    raw = base64.b64decode(encoded.encode("ascii"))
    d = zlib.decompressobj()
    payload = d.decompress(raw, _MAX_DECOMPRESSED_BYTES)
    if d.unconsumed_tail:
        raise ValueError(
            "orig_elements payload exceeds the 200 MB decompression guard"
        )
    return json.loads(payload.decode("utf-8"))


def orig_elements_codec_udfs():
    """(encode_udf, decode_udf) column functions for the wire codec."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _enc(s):
        import json

        return s.map(
            lambda v: encode_orig_elements(json.loads(v)) if v is not None else None
        )

    def _dec(s):
        import json

        return s.map(
            lambda v: json.dumps(decode_orig_elements(v)) if v is not None else None
        )

    _enc.__annotations__ = {"s": pd.Series, "return": pd.Series}
    _dec.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_enc, "string"), pandas_udf(_dec, "string")


def elements_to_html_document(df: DataFrame) -> DataFrame:
    """One REFERENCE-EXACT standalone HTML document per doc_id — the
    distributed form of ``html_render.elements_to_html`` (the renderer
    pinned byte-for-byte against all 172 reference prettify goldens).
    ``elements_to_html`` above stays the compact native-expression
    variant; this one runs the pure-Python renderer per doc group
    (document = parallel unit, same contract as the chunker)."""
    import json as _json

    import pandas as pd

    from unstructured_spark.html_render import elements_to_html as _render

    cols = ["doc_id", "element_index", "element_id", "type", "text", "text_as_html", "metadata_json"]
    present = [c for c in cols if c in df.columns]

    def render(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("element_index")
        dicts = []
        for rec in pdf.itertuples(index=False):
            d = rec._asdict()
            meta = {}
            if d.get("metadata_json"):
                try:
                    meta = _json.loads(d["metadata_json"]) or {}
                except ValueError:
                    meta = {}
            if d.get("text_as_html"):
                meta.setdefault("text_as_html", d["text_as_html"])
            dicts.append(
                {
                    "type": d.get("type"),
                    "text": d.get("text") or "",
                    "element_id": d.get("element_id"),
                    "metadata": meta,
                }
            )
        return pd.DataFrame(
            {"doc_id": [key[0]], "html": [_render(dicts, no_group_by_page=True)]}
        )

    return (
        df.select(*present)
        .groupBy("doc_id")
        .applyInPandas(render, schema="doc_id string, html string")
    )
