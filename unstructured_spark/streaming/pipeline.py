"""Structured-Streaming ingest: continuously partition documents as
they arrive (SURVEY §2.10 "Streaming" row).

The reference has no streaming semantics of its own — its unit of work
(one document → its elements) is stateless, which is exactly what makes
the Spark mapping trivial: ``readStream.format("binaryFile")`` →
the same ``mapInPandas`` parse → ``writeStream``. No watermark is
needed because a document is fully contained in one input row.

Chunking inside a stream: ``groupBy().applyInPandas`` /
``sortWithinPartitions`` are not available on unaggregated streams, but
chunking is per-document and the parse UDF already holds the whole
document — so a stream calls the batch ``partition_and_chunk``
unchanged, whose chunk fold runs *inside the same pass* (zero extra
shuffle, no sort, stateless microbatches).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from unstructured_spark.operators.partition_auto import partition_documents


def read_document_stream(
    spark: SparkSession,
    input_dir: str,
    *,
    glob: str = "*",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming documents DataFrame from a watched directory
    (binaryFile source; swap for Auto Loader on Databricks-like
    platforms). ``path`` doubles as ``doc_id``."""
    reader = (
        spark.readStream.format("binaryFile")
        .option("pathGlobFilter", glob)
        .schema(
            "path string, modificationTime timestamp, length long, content binary"
        )
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.load(input_dir)
    return stream.select(
        F.col("path").alias("doc_id"),
        "path",
        "content",
        F.col("modificationTime").alias("last_modified"),
    )


def partition_stream(docs: DataFrame) -> DataFrame:
    """Streaming elements DataFrame — the identical parse operator as
    batch (stateless mapInPandas works unchanged in a stream)."""
    return partition_documents(docs)


def _sink_has_part_files(spark: SparkSession, path: str) -> bool:
    """True iff the sink directory exists AND holds at least one
    ``part-`` data file (recursive Hadoop-FS listing, so it works on
    any configured filesystem scheme, not just local). Used to tell a
    genuine cold start apart from a transient empty LIST over a
    non-empty sink. A listing failure returns True — fail toward
    propagating the original read error, never toward resetting
    offsets."""
    try:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(
            spark._jsc.hadoopConfiguration()  # type: ignore[union-attr]
        )
        if not fs.exists(hpath):
            return False
        it = fs.listFiles(hpath, True)
        while it.hasNext():
            name = it.next().getPath().getName()
            if name.startswith("part-"):
                return True
        return False
    except Exception:
        return True


def stream_to_token_shards(
    chunks: DataFrame,
    model: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    *,
    tokens_per_shard: int,
    keep: tuple[str, ...] = ("keep",),
    buckets: int = 4096,
    max_tokens: int | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """The streaming DATA-LOADER tail: chunk stream → NB classifier
    gate → token-balanced shard assignment → parquet shards: the
    batch NB scorer and the distributed prefix-sum sharding composed
    end-to-end over a stream.

    Runs as ``foreachBatch``: inside each micro-batch the chunks are
    scored against the broadcast model by :func:`nb_score`, the one
    NB scoring rule (its three aggregations are micro-batch local, so
    the stream needs no second scorer), gated on ``keep``
    (unscored zero-feature chunks carry the explicit ``__unscored__``
    class, same contract as pipelines.pretraining_corpus_e2e), and
    sharded with :func:`assign_token_shards` whose ``start_offset``
    carries the cumulative token count — shard boundaries continue
    across micro-batches exactly as if the stream were one corpus.

    Restart semantics: the offset is re-derived from the sink
    (sum of ``n_tokens`` already written) before the query starts, so
    a restarted query continues numbering where the sink left off.
    A batch replayed after a mid-write crash can duplicate rows
    (standard foreachBatch at-least-once); idempotent sinks can key
    on (batch_id) via the usual overwrite-partition pattern.

    Scale shape: everything per-batch is the batch operators' own
    shape — broadcast model join, block-prefix-sum sharding; the only
    driver state is ONE integer (the running token total).
    """
    from unstructured_spark.operators.classifier import nb_score
    from unstructured_spark.operators.sampling import assign_token_shards

    from pyspark.errors import AnalysisException

    spark = chunks.sparkSession
    try:
        prev = (
            spark.read.parquet(output_dir)
            .agg(F.sum("n_tokens").alias("s"))
            .collect()[0]["s"]
        )
        offset = int(prev or 0)
    except AnalysisException as e:
        # ONLY "no prior sink data" means "start from zero": an absent
        # path, or a path that exists but holds no files yet (infra
        # pre-creates the dir, or an aborted first run left it empty —
        # Spark then raises UNABLE_TO_INFER_SCHEMA instead of
        # PATH_NOT_FOUND). A transient read error (throttle, eventual
        # consistency) must still propagate — silently resetting the
        # offset would re-issue shard_ids that collide with
        # already-full shards.
        cold_start_markers = (
            "PATH_NOT_FOUND",
            "Path does not exist",
            "UNABLE_TO_INFER_SCHEMA",
            "Unable to infer schema",
        )
        if not any(mk in str(e) for mk in cold_start_markers):
            raise
        # UNABLE_TO_INFER_SCHEMA is ambiguous: a genuinely-empty
        # pre-created dir raises it, but so does a NON-empty sink
        # whose LIST transiently returned no parquet files
        # (eventually-consistent stores) — exactly the transient case
        # that must propagate. Disambiguate with an explicit Hadoop-FS
        # recursive listing: any part-file in the sink means data was
        # written before, so the schema failure is a read fault, not a
        # cold start, and resetting the offset would re-issue shard_ids
        # that collide with already-full shards.
        if _sink_has_part_files(spark, output_dir):
            raise
        offset = 0
    state = {"offset": offset}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        verdicts = nb_score(
            batch_df, model, doc_id="element_id", buckets=buckets,
            max_tokens=max_tokens,
        ).select(
            F.col("doc_id").alias("element_id"),
            F.col("predicted").alias("_nb_predicted"),
        )
        kept = (
            batch_df.join(verdicts, "element_id", "left")
            .filter(
                F.coalesce(
                    F.col("_nb_predicted"), F.lit("__unscored__")
                ).isin(*keep)
            )
            .drop("_nb_predicted")
        )
        # the prefix-sum sharder needs a numeric densely-ordered id;
        # element ids are strings, so derive a per-batch ordinal in
        # the stream's natural order. The row_number window is global
        # but MICRO-BATCH-bounded (maxFilesPerTrigger caps it) — the
        # corpus-scale prefix sum inside assign_token_shards stays
        # distributed.
        kept = kept.withColumn(
            "_ord",
            F.row_number().over(
                Window.orderBy("doc_id", "element_index")
            ).cast("bigint"),
        )
        shards = assign_token_shards(
            kept,
            tokens_per_shard,
            doc_id="_ord",
            start_offset=state["offset"],
        )
        out = kept.join(shards, "_ord").select(
            "element_id", "doc_id", "text", "n_tokens", "shard_id"
        )
        # persist so the write and the offset-advance sum run the
        # score/gate/shard DAG once, not twice per trigger
        out.persist()
        try:
            out.write.mode("append").parquet(output_dir)
            added = out.agg(F.sum("n_tokens").alias("s")).collect()[0]["s"]
        finally:
            out.unpersist()
        state["offset"] += int(added or 0)

    writer = (
        chunks.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def write_elements_stream(
    elements: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    *,
    available_now: bool = False,
    fmt: str = "parquet",
) -> StreamingQuery:
    """Sink the element stream (exactly-once via checkpoint). With
    ``available_now`` the query drains the backlog and stops — the
    batch-refresh pattern; without it the query runs continuously."""
    writer = (
        elements.writeStream.format(fmt)
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def corpus_stats_stream(
    docs: DataFrame,
    *,
    ts_col: str = "ingest_ts",
    strata: str = "source",
    text: str = "text",
    window: str = "1 hour",
    watermark: str = "2 hours",
    approx_uniques: bool = False,
) -> DataFrame:
    """Live corpus-composition monitor — the streaming face of
    ``text_analysis.corpus_datasheet``: per (event-time window, source)
    document/token/char volumes plus the integer quality_q sum, so an
    ingest dashboard sees mixture drift as it happens instead of at
    the next batch rollup. Watermarked tumbling-window aggregation:
    state is bounded by the horizon, output mode append (a window
    finalizes when the watermark passes it).

    EXACT dup rate is deliberately absent: streaming distinct-count
    needs unbounded state — route exact dedup monitoring through the
    Bloom gate's maybe_seen rate instead (``streaming.dedup``).
    ``approx_uniques=True`` adds an HLL++ sketch column
    (``approx_unique_fps``, bounded state, NOT replay-exact — a
    monitoring number, never a selection input). Quality mean =
    quality_q_sum/docs at the consumer; every other column stays an
    exact BIGINT.
    """
    from unstructured_spark.operators.text_analysis import (
        fingerprint,
        ntok_expr,
        with_quality_q,
    )

    ntok = ntok_expr(text)
    d = with_quality_q(docs, text=text)
    aggs = [
        F.count("*").cast("bigint").alias("docs"),
        F.sum(ntok).cast("bigint").alias("tokens"),
        F.sum(F.length(F.coalesce(F.col(text), F.lit(""))))
        .cast("bigint")
        .alias("chars"),
        F.sum("quality_q").cast("bigint").alias("quality_q_sum"),
    ]
    out_cols = [
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        strata,
        "docs",
        "tokens",
        "chars",
        "quality_q_sum",
    ]
    if approx_uniques:
        aggs.append(
            F.approx_count_distinct(
                fingerprint(F.coalesce(F.col(text), F.lit("")))
            )
            .cast("bigint")
            .alias("approx_unique_fps")
        )
        out_cols.append(F.col("approx_unique_fps"))
    return (
        d.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), F.col(strata))
        .agg(*aggs)
        .select(*out_cols)
    )


def attribution_stream(
    docs: DataFrame,
    *,
    bloom: DataFrame | None = None,
    text: str = "text",
    doc_id: str = "doc_id",
    pii_max: int = 0,
    c4_min_sentences: int = 5,
    gopher_kwargs: dict | None = None,
    m_bits: int = 1 << 20,
    k: int = 4,
    seed: str = "bloom-v1",
) -> DataFrame:
    """Streaming twin of :func:`pipelines.filter_attribution`: the
    per-document gate-verdict table over a live ingest stream. The
    gopher/C4/PII gates are pure expressions, so they run unchanged on
    a streaming DataFrame; the batch form's exact-dup window (stateful,
    not append-safe) is replaced by the map-only Bloom probe against a
    persisted history index (``dedup.bloom_fingerprint_index``) — the
    same swap ``exact_dedup_stream_against_index`` makes. The dup
    column is honestly named ``maybe_dup``: a Bloom hit can be a false
    positive, so a 'maybe_dup' verdict routes to an exact confirm
    downstream, while ``maybe_dup=false`` is DEFINITIVE (never seen).
    Without a ``bloom`` index the dup gate is skipped
    (``maybe_dup=false`` everywhere).

    Fully stateless map-only plan: composes with append sinks,
    watermarks, and availableNow drains; per-batch cost is one scan.
    """
    from unstructured_spark.operators.pii import pii_total_expr
    from unstructured_spark.operators.quality_filters import (
        c4_doc_keep_expr,
        gopher_keep_expr,
        gopher_stats_exprs,
    )

    src = docs
    dup_col = F.lit(False)
    if bloom is not None:
        from unstructured_spark.operators.dedup import bloom_probe_new

        src = bloom_probe_new(
            docs, bloom, text=text, m_bits=m_bits, k=k, seed=seed
        )
        dup_col = F.col("maybe_seen")
    staged = src.select(
        F.col(doc_id).alias("doc_id"),
        *[c.alias(n) for n, c in gopher_stats_exprs(text).items()],
        c4_doc_keep_expr(text, min_sentences=c4_min_sentences).alias(
            "c4_keep"
        ),
        pii_total_expr(F.col(text)).alias("pii_total"),
        dup_col.alias("maybe_dup"),
    ).withColumn("gopher_keep", gopher_keep_expr(**(gopher_kwargs or {})))
    return staged.select(
        "doc_id",
        "gopher_keep",
        "c4_keep",
        F.col("pii_total").cast("bigint").alias("pii_total"),
        "maybe_dup",
        F.when(~F.col("gopher_keep"), F.lit("gopher"))
        .when(~F.col("c4_keep"), F.lit("c4"))
        .when(F.col("pii_total") > int(pii_max), F.lit("pii"))
        .when(F.col("maybe_dup"), F.lit("maybe_dup"))
        .otherwise(F.lit("keep"))
        .alias("verdict"),
    )


def mixture_partials_stream(
    docs: DataFrame,
    *,
    score_col: str,
    token_col: str,
    ts_col: str = "ingest_ts",
    strata: str = "source",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming half of the DoReMi mixture monitor: per (event-time
    window, domain) the EXACT integer partials the
    :func:`~unstructured_spark.operators.sampling.mixture_from_partials`
    weight chain consumes — ``(window_start, window_end, strata, docs,
    tokens, _ssum)``. Watermarked tumbling-window aggregation (state
    bounded by the horizon, append output); a window's finalized rows
    run through ``mixture_from_partials(...,
    group_cols=("window_start", "window_end"))`` at the consumer and
    yield BIT-IDENTICAL weights to the batch
    ``sampling.mixture_reweight`` over the same rows — integer sums
    compose exactly across micro-batches, so streaming vs batch can
    never disagree the way floating-point partials would.

    The weight chain itself stays OUT of the stream: it needs
    cross-domain totals (a second stateful aggregation per window),
    and partial-window weights would be misleading anyway — a mixture
    decision belongs on finalized windows.
    """
    return (
        docs.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), F.col(strata).alias("strata"))
        .agg(
            F.count("*").cast("bigint").alias("docs"),
            F.sum(F.col(token_col).cast("bigint"))
            .cast("bigint")
            .alias("tokens"),
            F.sum(F.col(score_col).cast("bigint"))
            .cast("bigint")
            .alias("_ssum"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "strata",
            "docs",
            "tokens",
            "_ssum",
        )
    )


def hll_partials_stream(
    docs: DataFrame,
    *,
    text: str = "text",
    ts_col: str = "ingest_ts",
    strata: str = "source",
    window: str = "1 hour",
    watermark: str = "2 hours",
    p: int = 12,
) -> DataFrame:
    """Streaming half of the HLL distinct-token monitor: per
    (event-time window, source) the register table
    ``(window_start, window_end, source, j, M)`` that
    :func:`~unstructured_spark.operators.sketches.hll_estimate`
    finalizes into a distinct-count estimate — the "vocabulary growth
    per source per hour" feed of a live ingest dashboard.

    Register max is the canonical streaming aggregate: it composes
    exactly across micro-batches AND across windows/sources (merge =
    max again), so a finalized window's registers are BIT-IDENTICAL to
    running :func:`hll_registers` over the same rows in batch, and
    coarser rollups (per-day from per-hour, all-sources from
    per-source) never need the raw stream. State is bounded by
    |windows in horizon| × |sources| × 4096 register rows — constant
    in corpus size, unlike exact distinct counting whose state is the
    vocabulary itself.

    Finalize at the consumer:
    ``hll_estimate(partials, group_cols=("window_start", "window_end",
    "source"), p=p)``.
    """
    from unstructured_spark.operators.sketches import (
        _hll_hash,
        hll_register_columns,
        hll_token_array,
    )

    j, rho = hll_register_columns(p)
    return (
        docs.select(
            F.col(ts_col), F.col(strata).alias("source"),
            F.explode(hll_token_array(F.col(text))).alias("token"),
        )
        .withColumn("_h", _hll_hash(F.col("token")))
        .select(ts_col, "source", j.alias("j"), rho.alias("_rho"))
        .withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), window), F.col("source"), F.col("j")
        )
        .agg(F.max("_rho").alias("M"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "source", "j", "M",
        )
    )


def warc_record_stream(
    spark: SparkSession,
    manifest_dir: str,
    *,
    glob: str = "*",
    max_files_per_trigger: int | None = None,
    opener=None,
    record_types: tuple[str, ...] | None = ("response", "conversion"),
) -> DataFrame:
    """Continuous crawl ingest over a watched MANIFEST directory — the
    streaming form of ``sources.warc.read_warc_paths`` and exactly the
    Common Crawl operational shape: each arriving text file lists
    archive paths (one per line, the ``warc.paths`` convention), and
    every listed shard is opened ON THE EXECUTOR and streamed through
    the record assembler. Archive bytes never ride a stream row, so
    the binaryFile 2 GB cap and whole-file inlining don't apply; the
    text-source checkpoint tracks which manifests are done, giving
    exactly-once shard ingest across restarts at manifest granularity.

    The records come from ``read_warc_paths`` itself (stateless
    mapInPandas), so a stream and a batch share one read loop and one
    record filter; compose with ``main_content_stream`` and the dedup /
    quality / partial-aggregate operators downstream."""
    from unstructured_spark.sources.warc import read_warc_paths

    reader = (
        spark.readStream.format("text")
        .option("pathGlobFilter", glob)
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    paths = reader.load(manifest_dir).select(
        F.trim(F.col("value")).alias("path")
    ).filter(F.col("path") != "")
    return read_warc_paths(paths, opener=opener, record_types=record_types)


def main_content_stream(records: DataFrame) -> DataFrame:
    """Boilerplate removal on a stream of WARC records: text/html
    records pass through the jusText-shaped block classifier
    (operators/main_content.py) keyed by record id; non-HTML records
    are dropped. Stateless — composes directly after
    :func:`warc_record_stream` for the full crawl-to-corpus live
    pipeline (ingest → main text → downstream dedup/quality twins)."""
    from unstructured_spark.operators.main_content import (
        extract_main_content,
    )

    html = records.filter(
        F.col("content_type").startswith("text/html")
        & F.col("text").isNotNull()
    ).select(F.xxhash64("record_id").alias("doc_id"), "text")
    return extract_main_content(html)
