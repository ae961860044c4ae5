"""File-based document sources → the canonical documents DataFrame
(doc_id, path, content, content_type, size, modified_at).

Batch: ``spark.read.format("binaryFile")`` — distributed scan, one row
per file, predicate pushdown on path/modificationTime/length.
Streams of arriving files are read by
``streaming.pipeline.read_document_stream``.

At 100 TB, prefer the paths-table shape: :func:`paths_table` lists (or
accepts a manifest of) file paths as a tiny DataFrame, and
:func:`read_paths` opens each file ON THE EXECUTOR inside mapInPandas,
streaming bytes straight into the consumer's parse loop. That removes
binaryFile's 2 GB-per-row cap and its double-buffered whole-file
materialization (source row + Arrow batch both hold the bytes), and it
turns ingest into the natural grain — one task per file, zero shuffle.
``sources.warc.read_warc_paths`` composes this with the streaming WARC
record assembler so a >2 GB archive never exists in memory at all.

Reference analog: lazy per-path open in
unstructured/partition/auto.py:144-170 (single-process); here the
paths ARE the distributed work queue.
"""

from __future__ import annotations

from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _normalize(df: DataFrame) -> DataFrame:
    return df.select(
        F.sha2(F.col("path"), 256).substr(1, 32).alias("doc_id"),
        F.col("path"),
        F.col("content"),
        F.lit(None).cast("string").alias("content_type"),
        F.col("length").alias("size"),
        F.col("modificationTime").alias("modified_at"),
    )


def read_documents(
    spark: SparkSession,
    path: str,
    *,
    glob: str | None = None,
    recursive: bool = True,
) -> DataFrame:
    """Batch-read a directory of files as a documents DataFrame."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return _normalize(reader.load(path))


# ---------------------------------------------------------------------------
# paths-table + executor-side open (the 100 TB ingest shape)
# ---------------------------------------------------------------------------

#: default read granularity for executor-side streaming opens — large
#: enough to amortize syscalls, small enough that (chunk + one record)
#: stays far under executor memory even at 32 concurrent tasks
DEFAULT_CHUNK_BYTES = 1 << 20


def open_path(path: str):
    """Default opener: binary file handle for a local path or file://
    URI. Remote filesystems plug in via the ``opener`` parameter of
    :func:`read_paths` (an fsspec ``open(path, "rb")`` has the same
    contract); gated behind the caller so this module stays stdlib."""
    if path.startswith("file://"):
        path = path[len("file://"):]
    return open(path, "rb")


def paths_table(
    spark: SparkSession,
    root: str,
    *,
    glob: str | None = None,
    recursive: bool = True,
) -> DataFrame:
    """List files under ``root`` as a (path, size, modified_at) table —
    the manifest half of the paths-table ingest shape. Uses the
    binaryFile source WITHOUT reading content (column pruning: only
    path/length/modificationTime reach the scan), so listing 100k
    shards costs a metadata pass, not a data pass. A pre-built
    manifest (e.g. Common Crawl's ``warc.paths.gz`` staged as parquet)
    can be used directly with :func:`read_paths` instead — any
    DataFrame with a ``path`` column qualifies."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return reader.load(root).select(
        F.col("path"),
        F.col("length").alias("size"),
        F.col("modificationTime").alias("modified_at"),
    )


def read_paths(
    paths: DataFrame,
    expand: Callable[[str], Iterator[dict]],
    schema: str,
    *,
    path_col: str = "path",
    tasks: int | None = None,
    flush_every: int = 512,
) -> DataFrame:
    """Executor-side-open driver: for each row of the ``paths`` table,
    open the file ON THE EXECUTOR and stream the rows that ``expand``
    yields for it. ``expand(path)`` runs inside the task, opens the
    file itself (:func:`open_path` or any fsspec-style opener it
    closes over) and yields dicts matching ``schema``. The file's
    bytes never ride a DataFrame row, so there is NO 2 GB cap and the
    task's resident set is whatever ``expand`` keeps (for the WARC
    assembler: one chunk + one record).

    Scale shape: map-only. ``tasks`` repartitions the paths table
    first — a manifest parquet often arrives as ONE input split, which
    would serialize every open onto one task; at 100k archives set
    ``tasks`` to ~4x total cores so stragglers rebalance. Rows flush
    in bounded Arrow batches of ``flush_every``.
    """
    import pandas as pd

    src = paths.select(F.col(path_col).alias("path"))
    if tasks:
        src = src.repartition(int(tasks))
    cols = _schema_cols(schema)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows: list[dict] = []
        for pdf in batches:
            for path in pdf["path"]:
                for row in expand(str(path)):
                    rows.append(row)
                    if len(rows) >= flush_every:
                        yield pd.DataFrame(rows, columns=cols)
                        rows = []
        yield pd.DataFrame(rows, columns=cols)

    return src.mapInPandas(gen, schema)


def _schema_cols(schema: str) -> list[str]:
    return [f.strip().split()[0] for f in schema.split(",") if f.strip()]


def read_documents_paths(
    paths: DataFrame,
    *,
    path_col: str = "path",
    tasks: int | None = None,
    opener: Callable[[str], object] | None = None,
    max_bytes: int | None = None,
    chunk_bytes: int = DEFAULT_CHUNK_BYTES,
) -> DataFrame:
    """Documents-shaped twin of :func:`read_documents` over a paths
    table: content is read executor-side in chunks (optionally
    truncated at ``max_bytes`` — whole-file document parses rarely
    need more than a bounded prefix for typed detection + text
    extraction, and the cap keeps a pathological multi-GB row out of
    Arrow). For record-oriented archives use
    ``sources.warc.read_warc_paths`` instead, which never materializes
    the file at all."""
    import hashlib

    opn = opener or open_path

    def expand(path: str):
        h = hashlib.sha256(path.encode("utf-8")).hexdigest()[:32]
        buf = []
        n = 0
        truncated = False
        with opn(path) as fh:
            while True:
                chunk = fh.read(chunk_bytes)
                if not chunk:
                    break
                n += len(chunk)
                if max_bytes is not None and n > max_bytes:
                    keep = len(chunk) - (n - max_bytes)
                    if keep > 0:
                        buf.append(chunk[:keep])
                    truncated = True
                    break
                buf.append(chunk)
        yield {
            "doc_id": h,
            "path": path,
            "content": b"".join(buf),
            "content_type": None,
            "size": n,
            "truncated": truncated,
        }

    return read_paths(
        paths,
        expand,
        "doc_id string, path string, content binary, content_type string,"
        " size bigint, truncated boolean",
        path_col=path_col,
        tasks=tasks,
    )
