"""partition() — the auto-routing document partitioner as a Spark
operator (reference ``partition/auto.py:30-300``; SURVEY §3.1).

Lifecycle: documents DF (doc_id, path, content, content_type) →
``mapInPandas`` [detect filetype → per-format parse → ordered element
rows] → metadata finalization (hash ids, languages, hierarchy).

Scale design (SURVEY §4):
- one input row → N output rows entirely executor-side; no shuffle in
  the parse stage. Parallelism is sized by bytes (``_size_parse_tasks``):
  many small files coalesce to about two tasks per core, since each
  Python task pays a fixed start; fewer splits than cores spread by a
  ``repartition`` (cheap: rows are (path, bytes)).
- ``partition_and_chunk`` runs the chunk fold inside the same UDF, so
  partition → chunk is one stage with no exchange.
- detection reads only the head bytes; parsers are lazily imported per
  executor process (the reference's partitioner cache trick).
- at 100 TB, content should be paths into object storage with
  executor-side opens — pass ``content_col=None`` and a ``path_col``;
  inlined bytes are capped by spark.sql.sources.binaryFile.maxLength.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from unstructured_spark.operators.storage import planned_partitions, spread
from unstructured_spark.schema import ELEMENT_SCHEMA

_OUT_COLUMNS = [f.name for f in ELEMENT_SCHEMA.fields]


def document_rows(
    raw,
    *,
    doc_id: str,
    path: str | None = None,
    content_type: str | None = None,
    **parser_kwargs,
) -> list[dict]:
    """One document's bytes → its finalized element rows over the
    ``ELEMENT_SCHEMA`` columns: parse, number the elements in reading
    order, then hash ids, doc language and hierarchy. Element ids hash
    the basename of ``path``, so the same bytes get the same ids from
    every surface (operator, facade, SQL) whatever directory they sit
    in. Bad input raises ``UnsupportedFormatError`` / ``ValueError``
    (the dispatch contract); each caller decides what that means."""
    # call-time imports: executors import parsers lazily, and per-layer
    # timing wraps these module attributes
    from unstructured_spark.operators.metadata import py_finalize_doc
    from unstructured_spark.parsers.dispatch import partition_bytes

    els = partition_bytes(
        raw, filename=path, content_type=content_type, **parser_kwargs
    )
    rows: list[dict] = []
    for idx, el in enumerate(els):
        row = {c: None for c in _OUT_COLUMNS}
        row.update({k: v for k, v in el.items() if k in row})
        row["doc_id"] = doc_id
        row["element_index"] = idx
        row["text"] = el.get("text", "")
        row["type"] = el.get("type", "Text")
        rows.append(row)
    base = (path or "").rsplit("/", 1)[-1] or None
    return py_finalize_doc(rows, doc_id=doc_id, filename=base)


def _size_parse_tasks(narrowed: DataFrame) -> DataFrame:
    """Parse parallelism sized by input bytes rather than input splits.

    Every Python task pays a fixed start before its first row, outside
    the UDF: about 0.1 s between two tasks on one reused worker of a
    4-core host, with the zip-free worker daemon (SCALING.md
    "Partitioning"). ``binaryFile`` pads each file with
    ``openCostInBytes`` (4 MB) when it packs splits: 1,200 office files
    of 5.3 MB read as 38 splits, and the office pass ran at 164 docs/s
    on them against 241 coalesced.
    Such inputs coalesce, with no shuffle, to ``max(2 ×
    defaultParallelism, ceil(size estimate / maxPartitionBytes))``
    tasks. The estimate is the optimizer's, so it runs no job; an
    unknown size reads as Long.MaxValue and never coalesces, nor does a
    scan whose bytes fill its splits. Inputs with fewer splits than
    cores, or an unknown count (a stream, an adaptive plan), go to
    :func:`storage.spread` instead.
    """
    spark = narrowed.sparkSession
    parallelism = spark.sparkContext.defaultParallelism
    n = planned_partitions(narrowed)
    if n is None or n < parallelism:
        return spread(narrowed)
    plan = narrowed._jdf.queryExecution().optimizedPlan()
    estimate = int(plan.stats().sizeInBytes())
    split_bytes = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    target = max(2 * parallelism, -(-estimate // split_bytes))
    return narrowed.coalesce(target) if n > target else narrowed


def partition_documents(
    df: DataFrame,
    *,
    doc_id: str = "doc_id",
    content: str = "content",
    path: str | None = "path",
    content_type: str | None = "content_type",
    on_error: str = "skip",  # 'skip' | 'fail' | 'capture'
    per_doc_transform=None,
    **parser_kwargs,
) -> DataFrame:
    """Partition a documents DataFrame into the canonical element schema.

    Metadata finalization (hash ids, doc language, hierarchy) happens
    INSIDE the parse UDF (``document_rows``): a document is fully
    contained in one input row, so these are per-row pure functions —
    zero shuffles for the whole partition+metadata pipeline. A batch
    input's task count is sized by its bytes first (``_size_parse_tasks``).

    Extra ``parser_kwargs`` flow through ``partition_bytes`` to the
    per-format partitioners (e.g. ``strategy=``, ``extract_forms=``,
    ``extract_images=`` for PDFs).

    ``per_doc_transform`` (rows → rows over the finalized element dicts
    of ONE document, schema-preserving) runs inside the same UDF pass —
    the fusion hook ``partition_and_chunk`` uses to run the chunk fold
    without a second exchange + Arrow round-trip (a document is fully
    contained in one input row, so any per-doc fold is a free rider on
    the parse stage).
    """
    cols = [doc_id, content]
    if path and path in df.columns:
        cols.append(path)
    if content_type and content_type in df.columns:
        cols.append(content_type)
    narrowed = _size_parse_tasks(df.select(*cols))
    path_col = path if path in narrowed.columns else None
    ct_col = content_type if content_type in narrowed.columns else None

    def parse_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # executor-side import keeps parser modules out of the driver path
        from unstructured_spark.parsers import classify
        from unstructured_spark.parsers.dispatch import UnsupportedFormatError

        for pdf in batches:
            rows: list[dict] = []
            # freeze UNSTRUCTURED_* env overrides once per Arrow batch:
            # the classifier predicates otherwise re-read + re-parse env
            # per ELEMENT inside the parsers (r7 spine regression)
            with classify.env_snapshot():
                for rec in pdf.itertuples(index=False):
                    rec_d = rec._asdict()
                    did = str(rec_d[doc_id])
                    fname = rec_d.get(path_col) if path_col else None
                    try:
                        doc_rows = document_rows(
                            rec_d[content],
                            doc_id=did,
                            path=fname,
                            content_type=rec_d.get(ct_col) if ct_col else None,
                            **parser_kwargs,
                        )
                    except (RecursionError, MemoryError):
                        # executor resource exhaustion, never "bad input"
                        raise
                    except (UnsupportedFormatError, ValueError) as e:
                        # the dispatch contract: list-or-ValueError
                        # (MalformedDocumentError is a ValueError) for bad
                        # INPUT; parser BUGS (TypeError, AttributeError...)
                        # propagate even under on_error='skip' — skipping
                        # them would silently bury a broken parser as
                        # "malformed documents"
                        if on_error == "fail":
                            raise
                        if on_error == "capture":
                            # auditable failure row: at corpus scale the
                            # drop rate and its causes must be queryable,
                            # not silently vanished
                            row = {c: None for c in _OUT_COLUMNS}
                            row.update(
                                doc_id=did,
                                element_index=0,
                                type="Error",
                                text=f"{type(e).__name__}: {e}",
                                filename=(fname or "").rsplit("/", 1)[-1] or None,
                            )
                            rows.append(row)
                        continue
                    if per_doc_transform is not None and doc_rows:
                        doc_rows = per_doc_transform(doc_rows)
                    rows.extend(doc_rows)
            yield (
                pd.DataFrame(rows, columns=_OUT_COLUMNS)
                if rows
                else pd.DataFrame(columns=_OUT_COLUMNS)
            )

    return narrowed.mapInPandas(parse_batches, schema=ELEMENT_SCHEMA)


def partition_and_chunk(
    df,
    *,
    chunking_strategy: str | None = None,
    chunk_kwargs: dict | None = None,
    **partition_kwargs,
):
    """The reference's one-call flow ``partition(file,
    chunking_strategy=...)`` (auto.py:30-300): partition to elements,
    then dispatch to a chunking strategy. Serves batch and streaming
    frames alike.

    The built-in ``basic`` / ``by_title`` folds run INSIDE the parse
    UDF via ``per_doc_transform``: one shuffle-free, sort-free stage
    with one Arrow round-trip, which is also what lets it run on a
    stream (``chunk`` sorts, and streams cannot). The fold is the same
    ``_chunk_doc`` that ``chunk`` runs, so the rows equal
    ``chunk(partition_documents(df), ...)``. Plug-in strategies
    (registered via ``register_chunking_strategy``) operate on
    DataFrames and take the ``chunk`` path.
    """
    from unstructured_spark.operators.chunking import (
        _STRATEGIES,
        ChunkingOptions,
        _chunk_doc,
        chunk,
        chunk_by_title,
        chunk_elements,
    )

    if chunking_strategy is None:
        return partition_documents(df, **partition_kwargs)
    # fold in-UDF ONLY while the registered strategy is still the
    # built-in function: a caller who re-registers 'basic'/'by_title'
    # via register_chunking_strategy must get their plug-in, not a
    # silent built-in fold
    builtin = {"basic": chunk_elements, "by_title": chunk_by_title}.get(chunking_strategy)
    if builtin is not None and _STRATEGIES.get(chunking_strategy) is builtin:
        opts = ChunkingOptions(**(chunk_kwargs or {}))
        by_title = chunking_strategy == "by_title"

        def fold(doc_rows: list[dict]) -> list[dict]:
            return _chunk_doc(doc_rows, opts, by_title)

        return partition_documents(df, per_doc_transform=fold, **partition_kwargs)
    els = partition_documents(df, **partition_kwargs)
    return chunk(els, strategy=chunking_strategy, **(chunk_kwargs or {}))
