"""End-to-end corpus pipelines: the composed flows a training-data or
RAG ingestion run actually executes, built from the engine's operators.

``training_data_pipeline`` is the canonical chain:

    documents ─ partition ─ chunk ─ quality gate ─ near-dup drop ─ embed

Shuffle bill of the whole flow (see SCALING.md):
  - partition: zero (mapInPandas, per-doc finalize in-UDF)
  - chunk: zero (the per-doc fold runs inside the parse UDF)
  - quality gate: zero (array expressions + filter)
  - near-dup drop: the dedup sub-pipeline's bucket-keyed shuffles over
    the (small) chunk-text table; the corpus filter itself is a
    broadcast anti-join
  - embed: zero (mapInPandas with per-worker encoder singleton)
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def training_data_pipeline(
    documents: DataFrame,
    *,
    chunking_strategy: str = "by_title",
    chunk_kwargs: dict | None = None,
    quality_filter: bool = True,
    quality_kwargs: dict | None = None,
    near_dedup: bool = True,
    dedup_kwargs: dict | None = None,
    embed: bool = True,
    encoder_factory: Callable | None = None,
) -> DataFrame:
    """documents (doc_id, content[, path, content_type]) → cleaned,
    deduplicated, embedded chunk rows ready to write.

    Each stage is optional so the same function serves RAG ingestion
    (no dedup) and pre-training corpus prep (everything on).

    Quality gating is per-chunk: Gopher thresholds tuned for chunk-sized
    text (min_words defaults to 10 rather than the document-level 50;
    override via ``quality_kwargs``). Near-dedup treats each chunk as a
    document keyed by ``element_id``.
    """
    from unstructured_spark.operators.dedup import drop_near_duplicates
    from unstructured_spark.operators.partition_auto import partition_and_chunk
    from unstructured_spark.operators.quality_filters import gopher_filter

    # the chunk fold runs inside the parse UDF: no doc_id exchange, no
    # sort, one Arrow crossing fewer per element row, and one Python
    # node fewer, whose tasks each pay a fixed worker start (SCALING.md
    # "Chunking"). The rows equal chunk(partition_documents(documents)).
    chunks = partition_and_chunk(
        documents, chunking_strategy=chunking_strategy, chunk_kwargs=chunk_kwargs
    )

    if quality_filter:
        qkw = {"min_words": 10, "min_stopwords": 0, "min_mean_word_len": 2.0}
        qkw.update(quality_kwargs or {})
        chunks = gopher_filter(chunks, **qkw)

    if near_dedup:
        dkw = {"n": 3, "threshold": 0.5}
        dkw.update(dedup_kwargs or {})
        chunks = drop_near_duplicates(chunks, doc_id="element_id", text="text", **dkw)

    if embed:
        from unstructured_spark.operators.embed import HashingEncoder, embed_elements

        chunks = embed_elements(chunks, encoder_factory or HashingEncoder)

    return chunks


def rag_ingest_pipeline(
    documents: DataFrame,
    *,
    max_characters: int = 1000,
    overlap: int = 100,
    encoder_factory: Callable | None = None,
) -> DataFrame:
    """The standard RAG shape: by_title chunks with overlap, exact-dup
    suppression only (near-dup false positives are costly for
    retrieval), embeddings on."""
    out = training_data_pipeline(
        documents,
        chunking_strategy="by_title",
        chunk_kwargs={"max_characters": max_characters, "overlap": overlap},
        quality_filter=False,
        near_dedup=False,
        embed=True,
        encoder_factory=encoder_factory,
    )
    w = F.row_number().over(
        Window.partitionBy(F.md5(F.col("text"))).orderBy("doc_id", "element_index")
    )
    return out.withColumn("_rn", w).filter(F.col("_rn") == 1).drop("_rn")


def prepare_training_corpus(
    documents: DataFrame,
    *,
    boilerplate_lines: bool = False,
    boilerplate_min_docs: int = 2,
    redact: bool = True,
    quality_filter: bool = True,
    quality_kwargs: dict | None = None,
    near_dedup: bool = True,
    dedup_kwargs: dict | None = None,
    decontaminate_against: DataFrame | None = None,
    contamination_threshold: float = 0.05,
    sample_fractions: dict[str, float] | None = None,
    strata_col: str = "source",
    token_budget: int | None = None,
    epoch_shuffle_seed: str | None = None,
    pack_tokens: int | None = None,
) -> DataFrame:
    """Raw text corpus (doc_id, text[, source]) → training-ready rows:
    the full hygiene chain a pre-training data pipeline runs —

        boilerplate line removal (CCNet, opt-in) → PII redact →
        quality gate → near-dup drop → benchmark decontamination →
        stratified source mixing → per-source token budget →
        epoch shuffle → sequence packing

    Every stage is optional. With ``pack_tokens`` set the output is
    packing placements (doc_id, seq_id, token ranges); otherwise the
    filtered document rows. ``boilerplate_lines=True`` runs CCNet's
    corpus-level duplicated-line removal FIRST (their §3.1 order:
    structural dedup before any scoring), rejoining the cleaned text
    onto the remaining columns. ``token_budget`` greedily keeps each
    stratum's best documents (integer quality key) up to that many
    tokens; ``epoch_shuffle_seed`` appends a deterministic
    ``shuffle_rank`` training order (unpacked path — packing orders by
    doc_id, so combine shuffle with packing by re-deriving ordinals
    from the rank first).

    Shuffle bill: redact/quality/sampling are MAP-ONLY; boilerplate is
    one line-fingerprint count + anti-join + per-doc reassembly; dedup
    is the bucket-keyed dedup sub-pipeline + a broadcast anti-join;
    decontamination is a broadcast join + per-doc agg; budget is the
    two-level (strata, quality-level) decomposition; shuffle is the
    256-bucket prefix sum; packing is the distributed prefix sum.
    Nothing here is all-pairs or single-partition.
    """
    from unstructured_spark.operators.dedup import (
        contaminated_docs,
        drop_near_duplicates,
        remove_boilerplate_lines,
    )
    from unstructured_spark.operators.pii import redact_docs
    from unstructured_spark.operators.quality_filters import gopher_filter
    from unstructured_spark.operators.sampling import (
        pack_sequences,
        stratified_sample,
    )

    out = documents
    if boilerplate_lines:
        cleaned = remove_boilerplate_lines(
            out, min_docs=boilerplate_min_docs
        ).select("doc_id", F.col("text").alias("_bp_text"))
        out = (
            out.drop("text")
            .join(cleaned, "doc_id")
            .withColumnRenamed("_bp_text", "text")
        )
    if redact:
        out = redact_docs(out)
    if quality_filter:
        qkw = dict(quality_kwargs or {})
        out = gopher_filter(out, **qkw)
    if near_dedup:
        dkw = {"n": 3, "threshold": 0.5}
        dkw.update(dedup_kwargs or {})
        out = drop_near_duplicates(out, **dkw)
    if decontaminate_against is not None:
        bad = (
            contaminated_docs(out, decontaminate_against)
            .filter(F.col("contamination") >= contamination_threshold)
            .select("doc_id")
        )
        out = out.join(F.broadcast(bad), "doc_id", "left_anti")
    if sample_fractions:
        out = stratified_sample(
            out, sample_fractions, strata_col=strata_col, default_fraction=1.0
        )
    if token_budget:
        from unstructured_spark.operators.sampling import select_token_budget
        from unstructured_spark.operators.text_analysis import (
            ntok_expr,
            with_quality_q,
        )

        keyed = with_quality_q(out).withColumn("_ntok", ntok_expr("text"))
        out = select_token_budget(
            keyed, token_budget, strata=strata_col, token_col="_ntok"
        ).drop("quality_q", "_ntok", "cum_tokens")
    if epoch_shuffle_seed is not None:
        from unstructured_spark.operators.sampling import corpus_shuffle

        out = corpus_shuffle(out, seed=epoch_shuffle_seed).drop(
            "shuffle_key"
        )
    if pack_tokens:
        return pack_sequences(out, pack_tokens)
    return out


def pretraining_corpus_e2e(
    documents: DataFrame,
    *,
    chunk_kwargs: dict | None = None,
    languages: tuple[str, ...] | None = ("eng",),
    quality_kwargs: dict | None = None,
    dedup_kwargs: dict | None = None,
    split_fractions: tuple[float, ...] = (0.9, 0.05, 0.05),
    pack_tokens: int | None = 2048,
    classifier_seed: DataFrame | None = None,
    classifier_keep: tuple[str, ...] = ("keep",),
    classifier_kwargs: dict | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The single-job 100×-shape demo chain — every stage a real
    training-data run needs, composed as ONE lazy plan:

        partition → chunk(by_title) → hygiene (langid gate, PII
        redact, Gopher quality) → [optional NB classifier gate,
        trained on ``classifier_seed``] → one-call near-dup drop →
        leakage-safe split → sequence packing of the train split

    Returns ``(packed_or_train, splits)``: the train split's packing
    placements (or its chunk rows when ``pack_tokens`` is None) plus
    the full per-chunk split assignment table.

    Classifier gate semantics: chunks the scorer cannot score
    (zero-feature/whitespace-only text) carry the sentinel class
    ``'__unscored__'`` — include it in ``classifier_keep`` to retain
    them. ``classifier_kwargs['doc_id']`` names the SEED table's id
    column; the scoring side is always keyed on ``element_id``.

    Shuffle bill (scripts/demo_corpus_e2e.py measures the realized
    exchange count; SCALING.md records it): partition, chunking and
    hygiene are map-only (the chunk fold runs in the parse UDF);
    dedup/split are the bucket-keyed LSH + pointer-doubling sub-plans
    (never all-pairs) ending in a broadcast anti-join/left join
    against the corpus; packing is the block-totals distributed
    prefix sum.

    Packing keys on ``doc_id * 1_000_000 + element_index`` — numeric
    doc ids required (the parquet corpus tables' bigint ids). A
    non-numeric id raises at runtime via the null-cast check below —
    a blind cast would null every id, pass ``pack_sequences``' dtype
    guard, and return an EMPTY packed result with no error.
    """
    from unstructured_spark.operators.dedup import (
        drop_near_duplicates,
        leakage_safe_split,
    )
    from unstructured_spark.operators.metadata import detect_language_expr
    from unstructured_spark.operators.partition_auto import partition_and_chunk
    from unstructured_spark.operators.pii import redact_docs
    from unstructured_spark.operators.quality_filters import gopher_filter
    from unstructured_spark.operators.sampling import pack_sequences

    # chunk fold inside the parse UDF, as in training_data_pipeline
    chunks = partition_and_chunk(
        documents, chunking_strategy="by_title", chunk_kwargs=chunk_kwargs
    )

    # hygiene — all three stages map-only
    if languages:
        chunks = chunks.filter(
            detect_language_expr(F.col("text")).isin(*languages)
        )
    chunks = redact_docs(chunks)
    qkw = {"min_words": 10, "min_stopwords": 0, "min_mean_word_len": 2.0}
    qkw.update(quality_kwargs or {})
    chunks = gopher_filter(chunks, **qkw)

    # optional model-based gate (the CCNet/WebText second stage after
    # the heuristic filters): train NB on the labeled seed, keep chunks
    # predicted into `classifier_keep` classes. Adds one broadcast-model
    # join + doc-keyed aggregates — no corpus re-shuffle.
    if classifier_seed is not None:
        from unstructured_spark.operators.classifier import nb_score, nb_train

        ckw = dict(classifier_kwargs or {})
        label = ckw.pop("label", "label")
        # seed keeps ITS OWN id/label columns; only the scoring side is
        # keyed on the chunk table's element_id. 'doc_id' in
        # classifier_kwargs names the SEED's id column only — popping
        # it here keeps it from colliding with the scoring call's
        # hardcoded doc_id='element_id' (a duplicate-kwarg TypeError).
        # Shared knobs (text, buckets, max_tokens) forward to both.
        seed_doc_id = ckw.pop("doc_id", "doc_id")
        model = nb_train(classifier_seed, label=label, doc_id=seed_doc_id, **ckw)
        verdicts = nb_score(chunks, model, doc_id="element_id", **ckw).select(
            F.col("doc_id").alias("element_id"),
            F.col("predicted").alias("_nb_predicted"),
        )
        # chunks with NO verdict (zero-feature text — nb_score drops
        # them) surface as the explicit '__unscored__' class: by
        # default they are filtered like any class outside
        # classifier_keep, and a caller who wants to keep them adds
        # '__unscored__' to classifier_keep. Without the coalesce the
        # NULL from the left join would make isin() NULL and drop them
        # SILENTLY, indistinguishable from a classifier rejection.
        chunks = (
            chunks.join(verdicts, "element_id", "left")
            .filter(
                F.coalesce(F.col("_nb_predicted"), F.lit("__unscored__")).isin(
                    *classifier_keep
                )
            )
            .drop("_nb_predicted")
        )

    dkw = {"n": 3, "threshold": 0.5}
    dkw.update(dedup_kwargs or {})
    chunks = drop_near_duplicates(chunks, doc_id="element_id", text="text", **dkw)

    assignment = leakage_safe_split(
        chunks, doc_id="element_id", fractions=split_fractions
    )
    splits = chunks.join(
        assignment.withColumnRenamed("doc_id", "element_id"), "element_id"
    )
    train = splits.filter(F.col("split") == "train")
    if pack_tokens is None:
        return train, splits
    numeric_id = F.col("doc_id").cast("bigint")
    pack_id = F.when(
        F.col("doc_id").isNotNull() & numeric_id.isNull(),
        F.raise_error(
            "pretraining_corpus_e2e packing needs numeric doc ids "
            "(got a value that does not cast to bigint); pass "
            "pack_tokens=None or derive an ordinal id first"
        ).cast("bigint"),
    ).otherwise(numeric_id * 1_000_000 + F.col("element_index"))
    packed = pack_sequences(
        train.withColumn("pack_id", pack_id),
        pack_tokens,
        doc_id="pack_id",
    )
    return packed, splits


def filter_attribution(
    df: DataFrame,
    *,
    text: str = "text",
    doc_id: str = "doc_id",
    pii_max: int = 0,
    c4_min_sentences: int = 5,
    gopher_kwargs: dict | None = None,
) -> DataFrame:
    """Per-document WHY table for the corpus hygiene gates: every doc's
    verdict under each filter plus the first gate that would drop it —
    the observability report a pipeline owner reads before trusting a
    "we filtered 34% of the crawl" number, and the regression diff when
    a threshold change suddenly drops a different 34%.

    Output: ``(doc_id, gopher_keep, c4_keep, pii_total,
    is_exact_dup, verdict)`` where verdict is ``'keep'`` or the FIRST
    failing gate in the documented cheap-to-expensive order
    ``gopher → c4 → pii → exact_dup`` (map-only predicates before the
    one gate that needs a shuffle, the same order a short-circuiting
    production pipeline would evaluate them in).

    Scale shape: every gate except exact-dup is a pure expression in
    ONE projection over the corpus — no joins between per-gate frames.
    The exact-dup flag rides a single window over the normalized-text
    fingerprint partitioning (``doc != min(doc) over fp``), so the
    whole report costs exactly one shuffle.
    """
    from unstructured_spark.operators.dedup import fingerprint
    from unstructured_spark.operators.pii import pii_total_expr
    from unstructured_spark.operators.quality_filters import (
        c4_doc_keep_expr,
        gopher_keep_expr,
        gopher_stats_exprs,
    )

    # coalesce NULL text before fingerprinting and PII counting (same
    # discipline as corpus_diff): without it every NULL-text doc lands
    # in one shared NULL-fp partition and reads as an exact dup of all
    # the others, and pii_total goes NEGATIVE via size(NULL) = -1
    # under the legacy sizeOfNull default
    safe_text = F.coalesce(F.col(text), F.lit(""))
    fp = fingerprint(safe_text)
    staged = df.select(
        F.col(doc_id).alias("doc_id"),
        *[c.alias(n) for n, c in gopher_stats_exprs(text).items()],
        c4_doc_keep_expr(text, min_sentences=c4_min_sentences).alias(
            "c4_keep"
        ),
        pii_total_expr(safe_text).alias("pii_total"),
        fp.alias("_fp"),
    ).withColumn("gopher_keep", gopher_keep_expr(**(gopher_kwargs or {})))
    flagged = staged.withColumn(
        "is_exact_dup",
        F.col("doc_id")
        != F.min("doc_id").over(Window.partitionBy("_fp")),
    )
    return flagged.select(
        "doc_id",
        "gopher_keep",
        "c4_keep",
        F.col("pii_total").cast("bigint").alias("pii_total"),
        "is_exact_dup",
        F.when(~F.col("gopher_keep"), F.lit("gopher"))
        .when(~F.col("c4_keep"), F.lit("c4"))
        .when(F.col("pii_total") > int(pii_max), F.lit("pii"))
        .when(F.col("is_exact_dup"), F.lit("exact_dup"))
        .otherwise(F.lit("keep"))
        .alias("verdict"),
    )


def release_corpus(
    df: DataFrame,
    out_dir: str,
    *,
    token_budget: int,
    strata: str = "source",
    prev: DataFrame | None = None,
    bands: int = 4,
    tokens_per_shard: int = 50_000,
    zorder_cols: tuple[str, ...] = ("ntok", "quality_q"),
    pii_max: int = 0,
    c4_min_sentences: int = 5,
    gopher_kwargs: dict | None = None,
    text: str = "text",
    doc_id: str = "doc_id",
) -> dict:
    """The full dataset-release governance chain as ONE pipeline run —
    the composition of every individually-oracled release operator,
    in the order a corpus version actually ships:

    1. **filter attribution** (:func:`filter_attribution`): per-doc
       verdict under every hygiene gate; the WHY table is persisted
       with the release (``_attribution.parquet``) and only
       ``verdict = 'keep'`` rows continue;
    2. **token-budget selection** (``select_token_budget``): within
       each stratum spend at most ``token_budget`` tokens on the
       best documents by the integer quality key;
    3. **curriculum order** (``curriculum_order``): quality-banded
       annealing order (general data first, best band last), emitted
       as a ``curriculum_rank`` column the loader sorts by;
    4. **token-balanced shards in curriculum order**
       (``assign_token_shards`` keyed on the rank): shard_id grows
       with training order, so streaming shards 0,1,2,… replays the
       curriculum;
    5. **Z-ordered shard write**: within each shard file, rows sort
       by the Morton key over ``zorder_cols`` so parquet min/max
       stats prune analytic scans on any interleaved dimension;
    6. **manifest + validation** (``write_dataset_manifest`` /
       ``validate_dataset``): the consistency contract a training job
       checks before burning GPU-hours;
    7. **datasheet** (``corpus_datasheet``) over the released rows,
       persisted as ``_datasheet.parquet``; and, when ``prev`` is
       given, the **snapshot diff** (``corpus_diff_summary``)
       against the previous release (``_diff.parquet``).

    Returns a summary dict (verdict counts, released docs/tokens,
    shard count, manifest totals, validation result).

    Scale shape: every stage is one of the audited operators — no new
    shuffles beyond their documented ones; the only driver-side state
    is the manifest/validation collects (shard-count-bounded) and the
    summary aggregates (strata-bounded).
    """
    from unstructured_spark.operators.sampling import (
        assign_token_shards,
        curriculum_order,
        select_token_budget,
    )
    from unstructured_spark.operators.storage import (
        validate_dataset,
        with_zorder_key,
        write_dataset_manifest,
    )
    from unstructured_spark.operators.text_analysis import (
        corpus_datasheet,
        ntok_expr,
        with_quality_q,
    )

    spark = df.sparkSession
    base = out_dir.rstrip("/")

    # 1. attribution — write the WHY table, then re-read it so the
    # keep-gate probe reads the persisted copy instead of re-running
    # every gate expression a second time
    filter_attribution(
        df,
        text=text,
        doc_id=doc_id,
        pii_max=pii_max,
        c4_min_sentences=c4_min_sentences,
        gopher_kwargs=gopher_kwargs,
    ).write.mode("overwrite").parquet(f"{base}/_attribution.parquet")
    attrib = spark.read.parquet(f"{base}/_attribution.parquet")
    verdicts = {
        r["verdict"]: int(r["n"])
        for r in attrib.groupBy("verdict").agg(F.count("*").alias("n")).collect()
    }
    kept = df.join(
        attrib.filter(F.col("verdict") == "keep").select(
            F.col("doc_id").alias(doc_id)
        ),
        doc_id,
        "left_semi",
    )

    # 2. integer quality key + token counts, then the budget fill
    kq = with_quality_q(kept, text=text).withColumn(
        "ntok", ntok_expr(text).cast("bigint")
    )
    sel = select_token_budget(
        kq,
        int(token_budget),
        strata=strata,
        order_col="quality_q",
        token_col="ntok",
        doc_id=doc_id,
    )

    # 3. annealing bands over the quality grid (quality_q in
    # [0, 3e6]): band 0 = most-general data trains first, the top
    # band last; curriculum_rank is the loader's ORDER BY
    banded = sel.withColumn(
        "band",
        F.least(
            F.lit(int(bands) - 1).cast("bigint"),
            F.expr(f"(quality_q * {int(bands)}) div 3000001"),
        ),
    )
    ordered = curriculum_order(banded, "band", doc_id=doc_id)

    # 4. token-balanced shards keyed on the curriculum rank: shard_id
    # is monotone in training order. The rank is already a dense
    # global BIGINT, so it serves as the shard assigner's id column.
    shards = assign_token_shards(
        ordered.select("curriculum_rank", text),
        int(tokens_per_shard),
        text=text,
        doc_id="curriculum_rank",
    ).select("curriculum_rank", "shard_id")
    released = ordered.join(shards, "curriculum_rank")

    # 5. Z-ordered write: partition by shard (file = training unit),
    # sort rows inside each shard file by the Morton key
    (
        with_zorder_key(released, list(zorder_cols), out="_zkey")
        .repartition(F.col("shard_id"))
        .sortWithinPartitions("shard_id", "_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(f"{base}/shards")
    )

    # 6. manifest + read-back validation over the written tree
    manifest = write_dataset_manifest(spark, f"{base}/shards", text=text)
    check = validate_dataset(spark, f"{base}/shards", text=text)

    # 7. datasheet over the RELEASED rows (+ optional snapshot diff)
    released_disk = spark.read.parquet(f"{base}/shards")
    corpus_datasheet(released_disk, strata=(strata,), text=text).write.mode(
        "overwrite"
    ).parquet(f"{base}/_datasheet.parquet")
    if prev is not None:
        from unstructured_spark.operators.storage import corpus_diff_summary

        corpus_diff_summary(prev, released_disk).write.mode(
            "overwrite"
        ).parquet(f"{base}/_diff.parquet")

    return {
        "verdicts": verdicts,
        "released_docs": int(manifest["total_rows"]),
        "released_tokens": int(manifest["total_tokens"]),
        "shards": len(manifest["shards"]),
        "validation_ok": bool(check["ok"]),
    }
