"""Streaming deduplication over continuously-arriving documents.

Beyond-reference surface (driver brief: dedup as a first-class
pipeline component; the reference has no streaming semantics —
SURVEY §2.10). Two bounded-state forms:

- :func:`dedup_stream` — exact near-real-time dedup:
  normalized-text fingerprint + ``dropDuplicatesWithinWatermark``.
  State is bounded by the watermark horizon (a duplicate arriving
  later than the watermark is emitted again — the right trade for an
  unbounded 100 TB/day feed, where global exact state would grow
  without limit).
- :func:`near_dedup_stream` — near-dup suppression: docs sharing any
  MinHash-LSH band bucket with an earlier-in-horizon doc are dropped.
  Uses the same engine-portable md5 minhash as the batch operator
  (operators/dedup.py), one ``dropDuplicatesWithinWatermark`` per
  band via explode — state per (band, key), again watermark-bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unstructured_spark.operators.text_analysis import fingerprint


def dedup_stream(
    docs: DataFrame,
    *,
    ts_col: str = "ingest_ts",
    text: str = "text",
    watermark: str = "1 hour",
) -> DataFrame:
    """Exact streaming dedup: first document with a given normalized
    fingerprint inside the watermark horizon survives; later copies
    are dropped. Returns the input columns + ``fingerprint``."""
    return (
        docs.withColumn("fingerprint", fingerprint(F.col(text)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )


def near_dedup_stream_against_index(
    docs: DataFrame,
    index: DataFrame,
    *,
    ts_col: str = "ingest_ts",
    text: str = "text",
    doc_id: str = "doc_id",
    watermark: str = "1 hour",
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_size: int = 3,
    emit: str = "novel",  # 'novel' | 'all'
) -> DataFrame:
    """Streaming near-dup suppression against a STATIC historical
    corpus index (``operators.dedup.minhash_band_index`` output read
    as a batch DataFrame) — the streaming half of the incremental
    production architecture: vs-history runs in the stream,
    intra-corpus dedup in the periodic batch compaction
    (``dedup_against_index``). Within-stream duplicates are NOT
    collapsed here — chain :func:`dedup_stream` upstream or compact in
    batch (structured streaming allows limited stateful chaining).

    A doc is novel iff no band bucket it occupies collides with an
    indexed doc at signature-estimated Jaccard >= ``threshold``. Docs
    too short to shingle carry no signature and are always novel
    (same contract as the batch operator).

    Shape: band keys map-side per doc → stream-static equi-join on
    (band, key) — collisions only, never stream × history — → one
    watermark-bounded (ts, doc) aggregate of the max estimate.

    Emits (doc_id, ts, max_est_jaccard, is_novel); ``emit='novel'``
    filters to the suppressed stream.
    """
    from unstructured_spark.operators.dedup import (
        _band_key_structs,
        _guarded_index,
        rowwise_minhash_sig,
        rowwise_token_hashes,
        shingles,
    )

    if bands < 1 or bands > num_hashes or num_hashes % bands != 0:
        raise ValueError(
            f"bands must divide num_hashes (got bands={bands}, "
            f"num_hashes={num_hashes})"
        )
    grams = shingles(F.col(text), shingle_size)
    staged = docs.select(
        F.col(doc_id).alias("doc_id"), F.col(ts_col), grams.alias("_g")
    )
    staged = staged.select(
        "doc_id", ts_col, rowwise_token_hashes(F.col("_g")).alias("_h")
    ).select(
        "doc_id", ts_col, F.col("_h"),
        rowwise_minhash_sig(F.col("_h"), num_hashes).alias("sig"),
    )
    # short docs (empty shingle set -> empty _h -> null sig mins) keep
    # a row with no band explode via the size guard below
    banded = (
        staged.filter(F.size("_h") > 0)
        .select(
            "doc_id", ts_col, "sig",
            F.explode(_band_key_structs(num_hashes, bands)).alias("bk"),
        )
        .select(
            "doc_id", ts_col, "sig",
            F.col("bk.band").alias("band"), F.col("bk.key").alias("key"),
        )
    )
    idx = _guarded_index(index, num_hashes, bands).select(
        F.col("sig").alias("_old_sig"), F.col("band"), F.col("key")
    )
    est = F.size(
        F.filter(F.zip_with("sig", "_old_sig", lambda a, b: a == b), lambda x: x)
    ) / F.lit(num_hashes)
    collided = banded.join(idx, ["band", "key"], "left").select(
        "doc_id",
        ts_col,
        F.coalesce(
            F.when(F.col("_old_sig").isNotNull(), est), F.lit(0.0)
        ).alias("_est"),
    )
    short = staged.filter(F.size("_h") == 0).select(
        "doc_id", ts_col, F.lit(0.0).alias("_est")
    )
    scored = (
        collided.unionByName(short)
        .withWatermark(ts_col, watermark)
        .groupBy(ts_col, "doc_id")
        .agg(F.max("_est").alias("max_est_jaccard"))
        .select(
            "doc_id",
            ts_col,
            F.round("max_est_jaccard", 6).alias("max_est_jaccard"),
            (F.col("max_est_jaccard") < F.lit(threshold)).alias("is_novel"),
        )
    )
    return scored.filter(F.col("is_novel")) if emit == "novel" else scored


def near_dedup_stream(
    docs: DataFrame,
    *,
    ts_col: str = "ingest_ts",
    text: str = "text",
    doc_id: str = "doc_id",
    watermark: str = "1 hour",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_size: int = 3,
    normalize: bool = True,
    emit: str = "novel",  # 'novel' | 'all'
) -> DataFrame:
    """Streaming near-dup suppression.

    A doc is NOVEL iff every one of its LSH band buckets is first-seen
    within the watermark horizon (any shared bucket means an
    earlier-in-horizon near-duplicate holds it — the same any-band
    OR-construction as the batch ``lsh_candidate_pairs``). ``emit``:

    - ``'novel'`` (default): only novel docs, i.e. the deduplicated
      stream;
    - ``'all'``: every SCORED doc with ``bucket_wins``/``bands``/
      ``is_novel`` so consumers can apply their own margin. CONTRACT
      NOTE — exact-duplicate elision: identical copies (same raw text
      when ``normalize=False``, same normalized text otherwise) inside
      the watermark horizon are collapsed upstream and do NOT re-appear
      as ``is_novel=false`` rows; one representative per distinct text
      is scored. Re-emitting the collapsed copies would need a
      stream-stream anti-join or an arbitrary-stateful op chained
      before the bucket dedup, neither of which structured streaming
      supports in one query — consumers needing exact-copy visibility
      should run :func:`dedup_stream` side-by-side and diff.

    Signatures reuse the batch operator's shingling + md5 hashing
    (operators/dedup.py — identical constants), so a stream can be
    cross-checked against a batch LSH index; ``normalize=True``
    additionally lowercases/collapses whitespace first (the same
    normalization as exact dedup). Set ``normalize=False`` for
    bit-exact batch ``minhash_signatures`` parity — in that mode the
    exact-collapse key is md5 of the RAW text too, so case/whitespace
    variants are scored as distinct docs, matching the batch operator.

    Exact duplicates are collapsed BEFORE band claiming (fingerprint
    dedup within the watermark), so identical copies landing in the
    same microbatch cannot split the bucket wins between them and all
    vanish — exactly one survivor claims the buckets. Known caveat:
    NON-identical near-duplicates arriving in the SAME microbatch can
    still split wins (dropDuplicatesWithinWatermark picks an arbitrary
    surviving row per bucket) and in the worst case suppress every
    copy; any copy arriving in a later batch is suppressed correctly.

    State: one entry per distinct (band, key) for the bucket claims
    plus one per in-flight (ts, doc) for the count — both aged by the
    watermark (the count groups on the event-time column, so its state
    is evicted too; the old doc_id-only aggregate grew forever).
    """
    from unstructured_spark.operators.dedup import (
        _band_key_structs,
        rowwise_minhash_sig,
        rowwise_token_hashes,
        shingles,
    )

    if bands < 1 or bands > num_hashes or num_hashes % bands != 0:
        # same guard as the batch lsh_candidate_pairs: bands >
        # num_hashes degenerates every band key to a constant (first
        # doc claims everything, the rest of the stream silently drops)
        raise ValueError(
            f"bands must divide num_hashes (got bands={bands}, "
            f"num_hashes={num_hashes})"
        )
    txt = (
        F.lower(F.trim(F.regexp_replace(F.col(text), "\\s+", " ")))
        if normalize
        else F.col(text)
    )
    # collapse exact copies first (see docstring: prevents same-batch
    # identical docs splitting band wins and ALL being suppressed).
    # The collapse key must honor `normalize`: with normalize=False the
    # engine scores raw text, so raw-distinct variants ("Foo" vs "foo")
    # must NOT be collapsed together — key off md5 of the raw text.
    xfp = fingerprint(F.col(text)) if normalize else F.md5(F.col(text))
    docs = (
        docs.withColumn("_xfp", xfp)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_xfp"])
        .drop("_xfp")
    )
    grams = shingles(txt, shingle_size)
    # too-short docs get a per-doc pseudo-shingle: they can never be
    # near-dups of anything, so they must not share a bucket
    grams = F.when(F.size(grams) > 0, grams).otherwise(
        F.array(F.concat(F.lit("__short__:"), F.col(doc_id).cast("string")))
    )
    staged = docs.select(F.col(doc_id).alias("doc_id"), F.col(ts_col), grams.alias("_g"))
    staged = staged.select(
        "doc_id", ts_col, rowwise_token_hashes(F.col("_g")).alias("_h")
    )
    staged = staged.select(
        "doc_id", ts_col, rowwise_minhash_sig(F.col("_h"), num_hashes).alias("sig")
    )
    # flat "band:key" strings from the shared band-struct construction —
    # ONE source of truth for the key format across batch index,
    # stream-vs-index, and in-stream bucket claims
    band_keys = F.transform(
        _band_key_structs(num_hashes, bands),
        lambda s: F.concat_ws(":", s["band"].cast("string"), s["key"]),
    )
    exploded = staged.select("doc_id", ts_col, F.explode(band_keys).alias("bucket"))
    # the watermark is already defined upstream (exact-copy collapse);
    # redefining it on the same column is disallowed with multiple
    # stateful operators
    winners = exploded.dropDuplicatesWithinWatermark(["bucket"])
    counts = (
        winners.groupBy(ts_col, "doc_id")
        .agg(F.count("*").alias("bucket_wins"))
        .select(
            "doc_id",
            ts_col,
            "bucket_wins",
            F.lit(bands).alias("bands"),
            (F.col("bucket_wins") == F.lit(bands)).alias("is_novel"),
        )
    )
    return counts.filter(F.col("is_novel")) if emit == "novel" else counts


def exact_dedup_stream_against_index(
    docs: DataFrame,
    bloom: DataFrame,
    index: DataFrame,
    *,
    text: str = "text",
    m_bits: int = 1 << 20,
    k: int = 4,
    seed: str = "bloom-v1",
) -> DataFrame:
    """Exact incremental dedup vs a persisted corpus with a Bloom
    front door — the streaming data-loader's cheapest history check.

    ``bloom`` is a :func:`operators.dedup.bloom_fingerprint_index`
    (read as a batch DataFrame) over the SAME history as ``index``
    (a :func:`operators.dedup.fingerprint_index`). The map-only
    stream probe marks guaranteed-new rows (``maybe_seen=false`` —
    the vast majority on a typical ingest day), which pass through
    with no join at all; only suspects anti-join the exact
    fingerprint index (stream-static, history never shuffled into
    the stream). Bloom error is one-sided, so the output row set is
    EXACTLY the plain anti-join of the whole stream — the filter only
    removes join work, never changes the answer (pinned by the
    equivalence test in tests/test_dedup_cap.py).

    Emits the novel rows with the input schema. Within-stream
    duplicates are not collapsed — chain :func:`dedup_stream`
    upstream, same contract as the near-dup form above.
    """
    from unstructured_spark.operators.dedup import bloom_probe_new

    gated = bloom_probe_new(
        docs, bloom, text=text, m_bits=m_bits, k=k, seed=seed
    )
    definite = gated.filter(~F.col("maybe_seen")).drop("maybe_seen")
    suspects = (
        gated.filter(F.col("maybe_seen"))
        .drop("maybe_seen")
        .withColumn("_fp", fingerprint(F.col(text)))
        .join(
            index.select(F.col("fingerprint").alias("_fp")).distinct(),
            "_fp",
            "left_anti",
        )
        .drop("_fp")
    )
    return definite.unionByName(suspects)
