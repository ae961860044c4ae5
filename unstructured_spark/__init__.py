"""unstructured_spark — a PySpark-native document-ETL + analytics engine.

Brand-new engine with the query/data-processing capabilities of
Unstructured-IO/unstructured (reference studied at /root/reference),
re-expressed Spark-first: DataFrame/SQL plans optimized by Catalyst,
pandas UDFs only where per-document sequential semantics demand it.

Layout:
  schema      — canonical element DataFrame schema (SURVEY §1.5)
  functions   — scalar column function library (cleaners, extract, patterns)
  operators   — partitioners, chunking, metadata enrichment, dedup, similarity
  sources     — document ingest (binaryFile batch + streaming)
  streaming   — structured-streaming pipelines
  plans       — plan-inspection helpers (pushdown/codegen assertions)
"""

__version__ = "0.1.0"


def __getattr__(name):
    # no pyspark import on package import: worker_daemon runs under this
    # package and must drop Spark's archives before pyspark loads
    if name == "get_spark":
        from unstructured_spark.session import get_spark

        return get_spark
    # lazy drop-in surface: `from unstructured_spark import partition`
    # (local single-document facade, api.py) without importing the
    # facade on package import
    if name in ("partition", "Element", "ElementMetadata", "elements_from_json",
                "elements_to_json", "chunk_elements", "chunk_by_title",
                "convert_to_text", "elements_to_text", "element_to_md",
                "elements_to_md", "elements_to_ndjson", "convert_to_csv",
                "convert_to_dataframe", "filter_element_types", "flatten_dict",
                "elements_to_base64_gzipped_json",
                "elements_from_base64_gzipped_json",
                "elements_to_html", "create_file_from_elements"):
        from unstructured_spark import api

        return getattr(api, name)
    raise AttributeError(name)
