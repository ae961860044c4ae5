"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Beyond-reference surface (BASELINE.json north star). Design for scale:

- exact dedup     — one hash-groupBy; map-side partial agg, single
                    shuffle on the 32-hex digest (uniform keys, no skew).
- MinHash LSH     — shingle → k minhash signature (per-row, no shuffle)
                    → band keys → self-join per band. The band join is
                    the only shuffle and its key cardinality ~ #docs;
                    banding bounds the candidate set so the join output
                    stays near-linear instead of O(n²).
- SimHash         — per-row bit aggregation, no shuffle; near-dup pairs
                    by Hamming distance within LSH-style prefix buckets.
- n-gram Jaccard  — exact verification on LSH candidates only.

Hashing is md5-based (not Spark's xxhash) so results are portable
across engines — the DuckDB oracle computes the identical signatures.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# 60-bit token hash from md5 — portable: Spark `conv(substr(md5(t),1,15),16,10)`
# equals DuckDB `cast('0x'||substr(md5(t),1,15) as bigint)`.
MERSENNE31 = 2147483647  # 2^31 - 1
HASH_A = 1000003
HASH_B = 17
HASH_STEP = 31  # per-hash-function offset


def token_hash(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct n-word shingles over a token-array column, in
    first-occurrence order. Linear in the token count: the ``n``
    shifted slices are zipped outside any lambda, so ``toks`` (an
    inline split included) is evaluated once per row. Texts shorter
    than ``n`` words, and NULL, yield an empty array."""
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    windows = F.arrays_zip(*[F.slice(toks, j + 1, m) for j in range(n)])
    return F.coalesce(
        F.array_distinct(F.transform(
            windows, lambda w: F.concat_ws("_", *[w[str(j)] for j in range(n)])
        )),
        F.array().cast("array<string>"),
    )


def shingles(col: Column, n: int = 3) -> Column:
    """Distinct n-word shingles of a whitespace-tokenized text; linear
    in the text length (see :func:`shingles_from_tokens`)."""
    return shingles_from_tokens(F.split(F.trim(col), "\\s+"), n)


def rowwise_token_hashes(grams: Column) -> Column:
    """Per-row shingle-hash array — project this into its own column
    BEFORE :func:`rowwise_minhash_sig` so each shingle is md5-hashed
    once, not once per signature component."""
    return F.transform(grams, lambda g: token_hash(g) % F.lit(MERSENNE31))


def rowwise_minhash_sig(hashes: Column, num_hashes: int) -> Column:
    """Per-row (no-shuffle) minhash signature over a
    :func:`rowwise_token_hashes` column — the streaming twin of
    :func:`minhash_signatures`. Uses the identical per-function
    multiplier/offset constants, so signatures from a stream are
    join-compatible with a batch-built :func:`minhash_band_index`.
    Empty hash arrays yield all-null components (array_min of []) —
    callers must guard short docs themselves."""
    return F.array(
        *[
            F.array_min(
                F.transform(
                    hashes,
                    lambda v: (
                        F.lit(HASH_A + 2 * h) * v + F.lit(HASH_B + HASH_STEP * h)
                    )
                    % F.lit(MERSENNE31),
                )
            )
            for h in range(num_hashes)
        ]
    )


def minhash_signatures(
    df: DataFrame, *, text: str = "text", doc_id: str = "doc_id",
    num_hashes: int = 16, shingle_size: int = 3,
) -> DataFrame:
    """MinHash signatures via explode → hash-once → k ``min`` aggregates.

    Scale design: the naive formulation (k × array_min(transform(...)))
    recomputes the md5 per shingle k times inside one expression tree;
    this one hashes each shingle exactly once, then computes the k
    permuted mins in a single hash-aggregate with map-side partial
    aggregation — one shuffle keyed by doc_id, rows ≈ Σ|shingles|.
    (min over the shingle multiset == min over the set, so no distinct
    is needed.)
    """
    spark_parallelism = df.sparkSession.sparkContext.defaultParallelism
    # small-file inputs arrive as 1 split; spread the hash fan-out
    base = df.repartition(spark_parallelism) if df.rdd.getNumPartitions() < spark_parallelism else df
    sh = base.select(
        F.col(doc_id).alias("doc"), shingles(F.col(text), shingle_size).alias("sh")
    )
    return _minhash_sigs_from_shingles(sh, num_hashes).withColumnRenamed("doc", doc_id)


def lsh_candidate_pairs(
    df: DataFrame, *, text: str = "text", doc_id: str = "doc_id",
    num_hashes: int = 16, bands: int = 8, shingle_size: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup candidates: docs sharing any band bucket.

    Returns (doc_a, doc_b, est_jaccard) with doc_a < doc_b;
    ``est_jaccard`` = fraction of matching minhash components.

    ``max_bucket_size`` is the 100 TB guardrail: the band self-join is
    quadratic per bucket, and one degenerate bucket (boilerplate pages,
    empty-ish docs sharing a signature band) can dominate the whole
    job. Buckets above the cap are dropped BEFORE the self-join via a
    windowed count — their members are near-identical to thousands of
    docs anyway, so exact-dup hashing catches them far cheaper. Default
    None (exhaustive) keeps the oracle contract exact.
    """
    sigs = minhash_signatures(
        df, text=text, doc_id=doc_id, num_hashes=num_hashes, shingle_size=shingle_size
    ).select(F.col(doc_id).alias("doc"), "sig")
    return _lsh_pairs_from_sigs(
        sigs, num_hashes=num_hashes, bands=bands,
        max_bucket_size=max_bucket_size,
    )


def _minhash_sigs_from_shingles(sh_df: DataFrame, num_hashes: int) -> DataFrame:
    """Signatures from a ``(doc, sh)`` shingle-array frame: explode →
    hash-once → k ``min`` aggregates. The one MinHash rule behind
    :func:`minhash_signatures` and :func:`ngram_jaccard_pairs` (which
    stages the arrays because its Jaccard verify reuses them). Returns
    (doc, sig)."""
    # explode_OUTER + explicit null filter, NOT a plain explode: for a
    # plain explode over a staged array COLUMN, InferFiltersFromGenerate
    # adds `size(sh) > 0 AND isnotnull(sh)` and predicate pushdown
    # substitutes the full shingle-build expression through the staging
    # exchanges into the SCAN-side filter — at bench that evaluated the
    # whole array_distinct(transform(...)) chain twice per row inside
    # the one-task parquet scan (measured 18 s vs 2.1 s for the query)
    # and, worse, made the two signature subtrees canonically different
    # from the Jaccard sides, so ReuseExchange never collapsed the
    # staged projection at all. The outer explode infers nothing; the
    # `_s IS NOT NULL` filter keys on the generated attribute, which
    # cannot push below the Generate, and drops exactly the rows the
    # plain explode never emitted (empty/null shingle arrays).
    ex = (
        sh_df.select(F.col("doc"), F.explode_outer("sh").alias("_s"))
        .filter(F.col("_s").isNotNull())
        .select(F.col("doc"), (token_hash(F.col("_s")) % F.lit(MERSENNE31)).alias("_h"))
    )
    # per-function MULTIPLIER, not just offset: with a shared multiplier
    # the permutation is monotone in _h, every component picks the same
    # argmin shingle, and the signature degenerates to one minhash
    # repeated k times (est_jaccard collapses to 0/1)
    aggs = [
        F.min(
            (
                F.lit(HASH_A + 2 * h) * F.col("_h")
                + F.lit(HASH_B + HASH_STEP * h)
            )
            % F.lit(MERSENNE31)
        ).alias(f"_mh{h}")
        for h in range(num_hashes)
    ]
    return (
        ex.groupBy("doc")
        .agg(*aggs)
        .select(F.col("doc"), F.array(*[f"_mh{h}" for h in range(num_hashes)]).alias("sig"))
    )


def _lsh_pairs_from_sigs(
    sigs: DataFrame, *, num_hashes: int, bands: int,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Banded self-join over a ``(doc, sig)`` signature frame — the
    pair-building half of :func:`lsh_candidate_pairs`, shared with
    callers that build signatures from a staged shingle projection."""
    if bands < 1 or bands > num_hashes or num_hashes % bands != 0:
        # bands > num_hashes would make every band key the empty string
        # (the self-join degenerates to all-pairs); a non-dividing count
        # silently ignores trailing signature components
        raise ValueError(
            f"bands must divide num_hashes (got bands={bands}, "
            f"num_hashes={num_hashes})"
        )
    banded = sigs.select(
        F.col("doc"),
        F.col("sig"),
        F.explode(_band_key_structs(num_hashes, bands)).alias("bk"),
    ).select("doc", "sig", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))

    if max_bucket_size is not None:
        w = Window.partitionBy("band", "key")
        banded = (
            banded.withColumn("_bn", F.count("*").over(w))
            .filter(F.col("_bn") <= max_bucket_size)
            .drop("_bn")
        )

    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(
            F.col("l.doc").alias("doc_a"),
            F.col("r.doc").alias("doc_b"),
            F.col("l.sig").alias("sig_a"),
            F.col("r.sig").alias("sig_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    matches = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda a, b: a == b),
            lambda x: x,
        )
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        F.round(matches / F.lit(num_hashes), 6).alias("est_jaccard"),
    )


def exact_duplicates(
    df: DataFrame, *, text: str = "text", doc_id: str = "doc_id"
) -> DataFrame:
    """Exact dedup groups: normalized-text md5 → (fingerprint, keep_id,
    dup_count). ``keep_id`` = min doc id (the canonical survivor)."""
    fp = F.md5(F.lower(F.trim(F.regexp_replace(F.col(text), "\\s+", " "))))
    return (
        df.select(F.col(doc_id).alias("doc"), fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min("doc").alias("keep_id"),
            F.count("*").alias("dup_count"),
        )
    )


def soft_dedup_weights(
    df: DataFrame, *, text: str = "text", doc_id: str = "doc_id"
) -> DataFrame:
    """SoftDeDup-style per-document sampling weights (downweight, don't
    drop — cf. "SoftDeDup: an efficient data reweighting method for
    speeding up language model pretraining", ACL 2024): every member of
    an exact-duplicate group keeps a weight of ``1e6 div group_size``
    ppm, so the GROUP's total sampling mass equals one document's and
    no copy is discarded. The gentler alternative to
    :func:`drop_near_duplicates` when near-dup text still carries
    unique long-tail spans a hard drop would lose.

    Returns (doc_id, dup_count, weight_ppm) for every input document;
    unique documents get weight 1e6. Integer ppm — engine-portable,
    loader-side consumable as a sampling probability or a loss weight.

    Scale shape: group-size via ``groupBy(_fp).count()`` (map-side
    combinable — a dominant duplicate group arrives at its reducer as
    per-mapper partials, not raw rows) + a join back on the
    fingerprint. Distinct fingerprints are ~corpus-cardinality, so the
    join shuffles both sides; a mega-group still co-locates its member
    rows in one probe partition, but the task streams them against a
    single build row instead of buffering and sorting the whole group
    the way a count window over the same partitioning would.
    """
    fp = F.md5(
        F.lower(
            F.trim(
                F.regexp_replace(
                    F.coalesce(F.col(text), F.lit("")), "\\s+", " "
                )
            )
        )
    )
    keyed = df.select(F.col(doc_id), fp.alias("_fp"))
    counts = keyed.groupBy("_fp").agg(
        F.count("*").cast("bigint").alias("dup_count")
    )
    return keyed.join(counts, "_fp").select(
        F.col(doc_id),
        "dup_count",
        F.expr("1000000 div dup_count").cast("bigint").alias("weight_ppm"),
    )


def cross_source_dup_matrix(
    df: DataFrame,
    *,
    text: str = "text",
    doc_id: str = "doc_id",
    strata: str = "source",
    **lsh_kwargs,
) -> DataFrame:
    """Cross-source duplication matrix — the release-diagnostics table
    that answers "which corpora overlap with which": per unordered
    source pair, how many LSH near-duplicate candidate pairs straddle
    them (diagonal = within-source duplication). The triage table a
    corpus owner reads before deciding which source to dedup AGAINST
    which (CommonCrawl-vs-C4-style overlap audits).

    Returns (source_a, source_b, dup_pairs) with source_a <= source_b
    (lexicographic normalization — each unordered pair counted once).
    A NULL strata label is coalesced to the sentinel ``'__null__'``
    BEFORE the least/greatest normalization: F.least/F.greatest skip
    NULLs, so without the sentinel a pair straddling a NULL-source doc
    would collapse onto the (src, src) diagonal and be miscounted as
    within-source duplication instead of surfacing as unknown-source.
    Caveat: a corpus that GENUINELY labels sources ``'__null__'`` (the
    sentinel leaking back in from a prior run of this matrix) becomes
    indistinguishable from NULL here — rename such a label before
    calling, or pass a strata column pre-coalesced to a different
    sentinel.

    Precondition: ``doc_id`` must be unique in ``df`` — the two label
    joins are keyed on it, and duplicate ids would multiply every
    candidate pair's count by the id's multiplicity.

    Scale shape: the pair table is the banded LSH self-join's output
    (bucket-capped, never all-pairs); attaching the two source labels
    is two joins keyed on uniform doc ids; the matrix aggregate is
    |sources|² rows.
    """
    pairs = lsh_candidate_pairs(
        df, text=text, doc_id=doc_id, **lsh_kwargs
    ).select("doc_a", "doc_b")
    labels = df.select(
        F.col(doc_id).alias("_d"),
        F.coalesce(F.col(strata), F.lit("__null__")).alias("_s"),
    )
    labeled = (
        pairs.join(labels.withColumnRenamed("_d", "doc_a")
                   .withColumnRenamed("_s", "_sa"), "doc_a")
        .join(labels.withColumnRenamed("_d", "doc_b")
              .withColumnRenamed("_s", "_sb"), "doc_b")
    )
    return (
        labeled.select(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("bigint").alias("dup_pairs"))
    )


def _simhash_from_hashes(hashes: Column, bits: int) -> Column:
    """Per-bit majority vote over a (pre-materialized) token-hash
    array. Pass a BOUND column, not a nested transform: Catalyst does
    not CSE across lambdas, so an inline ``transform(toks, md5)`` here
    would recompute every md5 once per bit.

    ONE fold with an array-of-counters accumulator computes all
    ``bits`` votes in a single traversal of the hash array — the
    per-bit-fold form (``bits`` separate aggregates) re-walked the
    array once per bit and measured 2.6× slower at sf0.1. Identical
    integers: the ±1 vote sum is ``2·cnt1 − n``, so ``vote > 0`` ⟺
    ``2·cnt1 > n`` (and an empty array still yields fp = 0)."""
    # The merge masks carry a trailing 0 slot whose counter gains +1
    # per token — the token count rides the SAME fold — and the
    # majority vote runs in the fold's FINISH lambda, where the final
    # accumulator is a bound variable. Both choices exist so `hashes`
    # is evaluated exactly once even when it is an inline transform:
    # codegen subexpression elimination skips lambda-bearing
    # expressions, so a separate F.size(hashes) or a second reference
    # to the fold would re-run the whole token-hash expression.
    masks = F.array(
        *[F.lit(1 << b).cast("bigint") for b in range(bits)],
        F.lit(0).cast("bigint"),
    )
    vote_masks = F.array(
        *[F.lit(1 << b).cast("bigint") for b in range(bits)]
    )
    zero = F.array_repeat(F.lit(0).cast("bigint"), bits + 1)
    one = F.lit(1).cast("bigint")
    nil = F.lit(0).cast("bigint")

    def _finish(acc: Column) -> Column:
        n = F.element_at(acc, bits + 1)
        return F.aggregate(
            F.zip_with(
                F.slice(acc, 1, bits),
                vote_masks,
                lambda c, m: F.when(c * 2 > n, m).otherwise(nil),
            ),
            nil,
            lambda a, x: a + x,
        )

    return F.aggregate(
        hashes,
        zero,
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a
            + F.when((h.bitwiseAND(m) != 0) | (m == nil), one).otherwise(nil),
        ),
        _finish,
    )


def simhash(col: Column, bits: int = 16) -> Column:
    """SimHash over whitespace tokens: per-bit majority vote of token
    hashes. Returns a ``bits``-wide integer fingerprint. (Column form —
    when computing over a whole DataFrame prefer staging the hash
    array first, as ``simhash_pairs`` does.)"""
    toks = F.array_distinct(F.split(F.trim(col), "\\s+"))
    return _simhash_from_hashes(F.transform(toks, token_hash), bits)


def simhash_pairs(
    df: DataFrame, *, text: str = "text", doc_id: str = "doc_id",
    bits: int = 16, max_distance: int = 2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: (doc_a, doc_b, hamming) with Hamming
    distance <= ``max_distance``.

    Scale path without losing a single pair: the fingerprint is split
    into ``max_distance + 1`` bit segments — by pigeonhole, any pair
    within the distance bound agrees EXACTLY on at least one segment —
    so the self-join runs per (segment, value) bucket instead of n².
    The blocking is lossless, which is why a brute-force SQL oracle
    can check it verbatim.

    At corpus scale use a wider fingerprint (``bits=48``..63): segment
    bucket count is 2^(bits/segs), and with 16 bits the buckets are
    too coarse for >10^5 docs (the per-bucket self-join grows
    quadratically). 16 remains the default only to match the
    ``simhash`` column operator.

    ``max_bucket_size`` is the same 100 TB guardrail as
    ``lsh_candidate_pairs``: segment buckets above the cap are dropped
    BEFORE the self-join (windowed count), bounding the quadratic term
    at cap² per bucket. With the cap set the result is no longer
    exhaustive — near-identical boilerplate clusters lose their
    intra-cluster pairs — so the default None keeps the oracle
    contract exact.

    Two plan-shape choices that matter at corpus scale:

    - the (doc, fp) table is ``localCheckpoint``-ed before the
      self-join — the join's two sides would otherwise EACH re-run
      tokenize+hash+vote over the full corpus (self-joins don't get
      ReusedExchange when one side becomes a broadcast build). The
      checkpoint is ~16 bytes/doc, far cheaper than a second corpus
      scan.
    - a pair agreeing on several segments is emitted only by its FIRST
      agreeing segment (the earlier-segments-differ predicate below),
      so no ``dropDuplicates`` shuffle over the candidate set is
      needed — at 100 TB that dedup exchange over the (quadratic-ish)
      candidate stream would dwarf the banded join itself.
    """
    toks = F.array_distinct(F.split(F.trim(F.col(text)), "\\s+"))
    # small-file inputs arrive as 1 split (single-row-group parquet):
    # the per-token fold below (49-counter accumulator per token) is the
    # dominant cost and would run on ONE core while the cluster idles.
    # Same scale-adaptive rebalance as minhash_signatures: identity (no
    # exchange) whenever the scan already parallelizes — at corpus
    # scale the condition is false and the plan is unchanged.
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    base_df = (
        df.repartition(parallelism)
        if df.rdd.getNumPartitions() < parallelism
        else df
    )
    staged = base_df.select(
        F.col(doc_id).alias("doc"), F.transform(toks, token_hash).alias("_h")
    )
    base = staged.select(
        "doc", _simhash_from_hashes(F.col("_h"), bits).alias("fp")
    ).localCheckpoint(eager=False)
    return hamming_pairs(
        base,
        hash_col="fp",
        doc_id="doc",
        bits=bits,
        max_distance=max_distance,
        max_bucket_size=max_bucket_size,
    )


def hamming_pairs(
    df: DataFrame, *, hash_col: str = "fp", doc_id: str = "doc_id",
    bits: int = 64, max_distance: int = 2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Lossless pigeonhole Hamming pairs over ANY precomputed integer
    fingerprint column — the simhash_pairs blocking decoupled from text
    hashing, so perceptual image dHashes, audio fingerprints, or
    externally-computed sketches get the same bucketed (never all-pairs)
    plan. Returns (doc_a, doc_b, hamming) with hamming <= max_distance;
    the segment split guarantees no pair within the bound is missed."""
    segs = max_distance + 1
    widths = [bits // segs + (1 if i < bits % segs else 0) for i in range(segs)]
    starts = [sum(widths[:i]) for i in range(segs)]

    def _seg_val(fp: Column, i: int) -> Column:
        # shiftrightUNSIGNED + bitmask: arithmetic shiftright/% would
        # sign-encode segments of NEGATIVE fingerprints differently on
        # two sides whose bit patterns agree (dHash maps bit 63 to the
        # sign bit), silently losing pairs. A full-width segment
        # (max_distance=0, bits=64) is the fingerprint itself — the
        # mask 2^64-1 wouldn't fit a long literal.
        if widths[i] >= 64:
            return fp
        return F.shiftrightunsigned(fp, starts[i]).bitwiseAND(
            F.lit((1 << widths[i]) - 1)
        )

    base = df.select(F.col(doc_id).alias("doc"), F.col(hash_col).alias("fp"))
    seg_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("seg"),
                _seg_val(F.col("fp"), i).alias("val"),
            )
            for i in range(segs)
        ]
    )
    banded = base.select(
        "doc", "fp", F.explode(seg_structs).alias("s")
    ).select("doc", "fp", F.col("s.seg").alias("seg"), F.col("s.val").alias("val"))
    if max_bucket_size is not None:
        w = Window.partitionBy("seg", "val")
        banded = (
            banded.withColumn("_bn", F.count("*").over(w))
            .filter(F.col("_bn") <= max_bucket_size)
            .drop("_bn")
        )
    l, r = banded.alias("l"), banded.alias("r")
    hamming = F.bit_count(
        F.col("l.fp").bitwiseXOR(F.col("r.fp"))
    ).cast("bigint")

    # emit each pair only from its first agreeing segment: when the
    # matched segment is i, every segment j < i must differ — a cheap
    # predicate on the two fingerprints replacing a global dedup
    # shuffle over the candidate stream.
    first_agree = F.lit(True)
    for i in range(1, segs):
        earlier_differ = reduce(
            lambda a, b: a & b,
            [
                _seg_val(F.col("l.fp"), j) != _seg_val(F.col("r.fp"), j)
                for j in range(i)
            ],
        )
        first_agree = F.when(F.col("l.seg") == i, earlier_differ).otherwise(
            first_agree
        )
    return (
        l.join(
            r,
            (F.col("l.seg") == F.col("r.seg"))
            & (F.col("l.val") == F.col("r.val"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .filter(first_agree)
        .select(
            F.col("l.doc").alias("doc_a"),
            F.col("r.doc").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_distance)
    )


def ngram_jaccard_pairs(
    df: DataFrame, *, text: str = "text", doc_id: str = "doc_id",
    n: int = 3, threshold: float = 0.5,
    num_hashes: int = 16, bands: int = 8,
) -> DataFrame:
    """Exact n-gram Jaccard on LSH candidates (two-phase near-dup):
    LSH prunes to near-linear candidates, exact set intersection
    verifies. Returns (doc_a, doc_b, jaccard) ≥ threshold."""
    # ONE tokenize+shingle pass (r13; guide §2.4/§3.3 duplicated
    # subtrees): the signature build and both Jaccard join sides all
    # consume the SAME staged shingle projection, materialized once by
    # the hash-repartition exchange below — the planner's ReuseExchange
    # collapses the three references onto one shuffle write, so the
    # text is tokenized/shingled once per action instead of three
    # times. Checkpoint-free: everything stays in one AQE-planned
    # query (an r9 experiment that cut lineage with a checkpoint
    # REGRESSED — the cut opts the LSH DAG out of AQE and serializes
    # an extra job). The round-robin spread first keeps the shingle
    # build parallel on small single-split inputs (identity at corpus
    # scan widths); the by-doc hash exchange it feeds is work the
    # signature aggregation needed anyway, so at scale this adds no
    # shuffle that wasn't already fundamental.
    par = df.sparkSession.sparkContext.defaultParallelism
    base = df.repartition(par) if df.rdd.getNumPartitions() < par else df
    sh = base.select(
        F.col(doc_id).alias("doc"), shingles(F.col(text), n).alias("sh")
    ).repartition(par, "doc")
    sigs = _minhash_sigs_from_shingles(sh, num_hashes)
    cands = _lsh_pairs_from_sigs(sigs, num_hashes=num_hashes, bands=bands)
    joined = (
        cands.join(sh.withColumnRenamed("doc", "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
        .join(sh.withColumnRenamed("doc", "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        joined.select(
            "doc_a", "doc_b", F.round(inter / union, 6).alias("jaccard")
        )
        .filter(F.col("jaccard") >= threshold)
    )


def connected_components(
    pairs: DataFrame,
    *,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Duplicate-cluster formation: connected components over candidate
    pairs via iterative min-label propagation (the standard large-graph
    CC algorithm — alternating small-star/large-star simplified to
    symmetric min-exchange, converging in O(log n) rounds for the
    near-dup graphs LSH produces).

    Returns (doc, cluster_id) for every node that appears in a pair;
    cluster_id is the minimum doc id reachable. Each round is one
    shuffle; iteration stops early when labels reach a fixpoint
    (checked with a cheap aggregate, not a collect of the data).
    """
    persisted = (
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(pairs.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .persist()
    )
    # right-size the iteration's shuffles to the graph, not the input:
    # LSH candidate graphs are tiny relative to the corpus, and each
    # round is several shuffles whose task overhead dominates when the
    # data is thin. ~50k edges per partition keeps rounds single-digit
    # tasks at bench scale and thousands of tasks at 100 TB scale.
    n_edges = persisted.count()
    parts = int(max(1, min(n_edges // 50_000 + 1, 2048)))
    edges = persisted.repartition(parts, "b")
    # initial label: min neighbor vs self
    labels = (
        edges.repartition(parts, "a")
        .groupBy("a")
        .agg(F.least(F.min("b"), F.first("a")).alias("label"))
        .select(F.col("a").alias("doc"), "label")
        .localCheckpoint(eager=True)
    )
    prev_sig: int | None = None
    for _ in range(max_iterations):
        # one-hop: my new label = min(my label, neighbors' labels)
        neighbor_labels = (
            edges.join(labels, edges.b == labels.doc, "inner")
            .select(F.col("a").alias("doc"), F.col("label"))
        )
        # pointer doubling candidates: my label's own label — halves the
        # remaining path each round, so long chains converge in
        # O(log diameter) rounds instead of O(diameter)
        jump = labels.select(
            F.col("doc").alias("jdoc"), F.col("label").alias("jlabel")
        )
        label_of_label = (
            labels.join(jump, labels.label == jump.jdoc, "inner")
            .select("doc", F.col("jlabel").alias("label"))
        )
        # one aggregation folds self + neighbor + doubled candidates.
        # localCheckpoint truncates lineage — the self-join would
        # otherwise double the logical plan every round (exponential
        # planning cost, the classic iterative-algorithm trap). LAZY:
        # the convergence aggregate right below is the round's first
        # action, so it materializes + stores the checkpoint blocks in
        # the same job — one job per round instead of an eager
        # materialization job followed by the signature job.
        new_labels = (
            labels.select("doc", "label")
            .union(neighbor_labels)
            .union(label_of_label)
            .repartition(parts, "doc")  # groupBy reuses this exchange
            .groupBy("doc")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=False)
        )
        # convergence: labels are monotonically non-increasing, so the
        # assignment is a fixpoint iff the label set is unchanged — one
        # cheap aggregate instead of a join (bit_xor: order-independent,
        # overflow-free under ANSI mode). Doubles as the lazy
        # checkpoint's materializing action.
        sig = new_labels.agg(
            F.expr("bit_xor(xxhash64(doc, label))").alias("s")
        ).collect()[0]["s"]
        labels = new_labels
        if sig == prev_sig:
            break
        prev_sig = sig
    persisted.unpersist()
    return labels


def duplicate_clusters(
    df: DataFrame, *, text: str = "text", doc_id: str = "doc_id", **lsh_kwargs
) -> DataFrame:
    """End-to-end near-dup clusters: LSH candidate pairs → connected
    components → (doc, cluster_id). The pair set is persisted first —
    the CC edge build references it twice (symmetrization) and every
    propagation round reads it; recomputing the minhash DAG per use
    would dominate."""
    pairs = lsh_candidate_pairs(df, text=text, doc_id=doc_id, **lsh_kwargs).persist()
    try:
        return connected_components(pairs)
    finally:
        pairs.unpersist()


def drop_near_duplicates(
    df: DataFrame,
    *,
    text: str = "text",
    doc_id: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 8,
    keep: str = "min_id",
    quality_col: str | None = None,
    broadcast_drops: bool = True,
) -> DataFrame:
    """One-call corpus dedup — the full pipeline a training-data run
    applies, returning the corpus with non-canonical duplicates REMOVED:

    1. exact duplicates (normalized-text md5 groups — catches docs too
       short to shingle);
    2. verified near-duplicates (MinHash-LSH candidates → exact n-gram
       Jaccard ≥ ``threshold``);
    3. connected components over the verified pairs → clusters;
    4. keep ONE representative per cluster / fingerprint group, drop
       the rest.

    ``keep`` selects the representative:

    - ``'min_id'`` (default): the minimum ``doc_id`` — fully
      deterministic with no extra inputs;
    - ``'best'``: the member maximizing ``quality_col`` (ties → min
      ``doc_id``) — what production corpus builds usually want (keep
      the longest / highest-quality copy, e.g. a Gopher or perplexity
      score, not whichever arrived first). For same-case duplicates
      the exact fingerprint group is a subset of the near-dup cluster,
      so a doc maximizing quality over the cluster also wins its
      group and the two drop sets agree on the survivor. Caveat
      (shared with ``'min_id'``): fingerprints case-fold but shingles
      don't, so an exact group of CASE-variants can straddle clusters
      — each path then keeps its own representative independently.

    Scale shape: with ``broadcast_drops=True`` (default) the member set
    and the final drop set are broadcast — the corpus is probed, never
    shuffled. That assumes duplicates are a SMALL fraction of the
    corpus (the usual case; FineWeb-class web dumps dedup away ~10-30%
    of docs but the *member id+quality* rows are a few bytes each).
    On a pathologically duplicated corpus where even the id set
    overflows the broadcast ceiling, pass ``broadcast_drops=False``:
    plain joins let the planner/AQE pick shuffle strategies that
    degrade gracefully instead of OOMing the driver. The ``'best'``
    keeper picks ride ONE window per grouping (exact groups on the
    fingerprint partitioning, clusters on the label partitioning) —
    min over ``struct(-quality, doc)`` = quality desc, doc asc — so no
    groupBy + join-back shuffles the same keys twice. Steps 1-3 are
    the oracle-checked operators above, composed.

    The input is read twice: once into a local checkpoint of the narrow
    projection ``(doc_id, text[, quality_col])``, from which every
    drop-set branch is built (fingerprints, pairs, the quality window),
    and once by the output probe. An upstream chain (parse, extract,
    redact) therefore runs twice per document, not once per branch.
    The checkpoint holds the corpus text in executor storage until the
    returned frame is released.
    """
    if keep not in ("min_id", "best"):
        raise ValueError(f"keep must be 'min_id' or 'best', got {keep!r}")
    if keep == "best" and quality_col is None:
        raise ValueError("keep='best' needs quality_col")
    if keep == "best":
        q_type = dict(df.dtypes).get(quality_col, "")
        if q_type.split("(")[0] not in (
            "tinyint", "smallint", "int", "bigint", "long", "float",
            "double", "decimal",
        ):
            raise ValueError(
                f"keep='best' needs a numeric quality_col; {quality_col!r} "
                f"is {q_type or 'missing'}"
            )

    # Both 'best' keeper picks below take min over struct(-quality,
    # doc) == quality desc, doc asc — negating the QUALITY (numeric by
    # the guard above) instead of the doc id keeps the tie-break
    # correct for string doc ids too, where a unary minus would cast
    # to double, yield null, and pick an arbitrary survivor.

    q_cols = [quality_col] if keep == "best" else []
    narrow = df.select(doc_id, text, *q_cols).localCheckpoint(eager=True)
    # exact groups: every doc whose group representative is another doc
    fp = F.md5(F.lower(F.trim(F.regexp_replace(F.col(text), "\\s+", " "))))
    if keep == "min_id":
        fps = narrow.select(F.col(doc_id).alias("doc"), fp.alias("fingerprint"))
        exact_keep = exact_duplicates(narrow, text=text, doc_id=doc_id).select(
            "fingerprint", "keep_id"
        )
        exact_drop = (
            fps.join(exact_keep, "fingerprint")
            .filter(F.col("doc") != F.col("keep_id"))
            .select("doc")
        )
    else:
        fps = narrow.select(
            F.col(doc_id).alias("doc"),
            fp.alias("fingerprint"),
            F.col(quality_col).alias("_q"),
        )
        # keeper via a window over ONE fingerprint partitioning instead
        # of groupBy + join-back (which shuffles the corpus twice for
        # the same grouping): min over (-quality, doc) == best. Group
        # sizes are duplicate-group sizes — no skew hazard beyond what
        # the data itself carries.
        wfp = Window.partitionBy("fingerprint")
        exact_drop = (
            fps.withColumn(
                "_keep",
                F.min(
                    F.struct(
                        (-F.col("_q")).alias("nq"), F.col("doc").alias("d")
                    )
                ).over(wfp)["d"],
            )
            .filter(F.col("doc") != F.col("_keep"))
            .select("doc")
        )
    # persist: connected_components references the pairs in both
    # branches of its edge symmetrization — without this the whole
    # minhash+LSH+Jaccard DAG executes twice (same reason
    # duplicate_clusters persists)
    pairs = ngram_jaccard_pairs(
        narrow, text=text, doc_id=doc_id, n=n, threshold=threshold,
        num_hashes=num_hashes, bands=bands,
    ).persist()
    try:
        members = connected_components(pairs)
        if keep == "min_id":
            # the min-label IS the min cluster id — no extra pass
            near_drop = members.filter(F.col("doc") != F.col("label")).select("doc")
        else:
            # members is the duplicate set (tiny vs the corpus) —
            # broadcast it into the quality projection so the corpus is
            # probed, never shuffled; then one label-window picks the
            # keeper (no groupBy + join-back pass over the same keys)
            msmall = F.broadcast(members) if broadcast_drops else members
            mq = narrow.select(
                F.col(doc_id).alias("doc"), F.col(quality_col).alias("_q")
            ).join(msmall, "doc")
            wl = Window.partitionBy("label")
            near_drop = (
                mq.withColumn(
                    "_keep",
                    F.min(
                        F.struct(
                            (-F.col("_q")).alias("nq"), F.col("doc").alias("d")
                        )
                    ).over(wl)["d"],
                )
                .filter(F.col("doc") != F.col("_keep"))
                .select("doc")
            )
        drops = exact_drop.union(near_drop).distinct()
        drops = drops.withColumnRenamed("doc", doc_id)
        if broadcast_drops:
            drops = F.broadcast(drops)
        return df.join(drops, doc_id, "left_anti")
    finally:
        pairs.unpersist()


def _gram_hashes(toks: Column, k: int) -> Column:
    """60-bit md5 hash of each k-token window (position-ordered).
    Portable: DuckDB replays it as
    ``cast('0x'||substr(md5(array_to_string(t[i+1:i+k],' ')),1,15) as bigint)``.

    TOTAL on any input: arrays shorter than ``k`` yield an empty
    array. Callers filter ``size >= k`` anyway, but the expression
    itself must be safe to evaluate on unfiltered rows — the optimizer
    is free to push an inferred explode-input predicate below the
    caller's size filter (conjunct order in a scan Filter is
    arbitrary), and ``sequence(0, size-k)`` runs DESCENDING when
    ``size < k``, feeding slice() a zero start and failing the whole
    stage."""
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - k),
        lambda i: F.conv(
            F.substring(
                F.md5(F.concat_ws(" ", F.slice(toks, i + 1, F.lit(k)))), 1, 15
            ),
            16,
            10,
        ).cast("bigint"),
    )
    return F.when(F.size(toks) >= k, grams).otherwise(
        F.array().cast("array<bigint>")
    )


def shared_ngram_spans(
    df: DataFrame,
    *,
    text: str = "text",
    doc_id: str = "doc_id",
    k: int = 15,
    max_gram_freq: int | None = None,
) -> DataFrame:
    """Exact substring duplication across documents: maximal runs of
    >= ``k`` consecutive shared tokens, as (doc_a, doc_b, start_a,
    start_b, match_tokens).

    This is the train-data dedup primitive from Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better") —
    whereas MinHash/SimHash flag whole near-duplicate DOCUMENTS, this
    finds verbatim shared PASSAGES (boilerplate, licenses, quoted
    spans) regardless of how different the rest of the two documents
    is. The single-node reference approach is a suffix array; the
    distributed re-expression is k-gram position matching:

    1. every k-token window hashes to (doc, pos, gh) — map-only;
    2. matching positions across two docs self-join per gram hash
       (the only corpus-sized shuffle, keyed by ~uniform 60-bit
       hashes);
    3. a run of consecutive shared windows lies on one DIAGONAL
       (pos_a - pos_b constant), so maximal runs fall out of a
       gaps-and-islands grouping: island id = pos_a - row_number()
       within (doc_a, doc_b, diagonal).

    A run of R consecutive matching windows covers R + k - 1 shared
    tokens; k is the minimum span worth reporting.

    ``max_gram_freq`` is the 100 TB guardrail: gram hashes occurring
    more than the cap times corpus-wide (stop-boilerplate — page
    headers, license preambles) are dropped BEFORE the self-join,
    bounding each join group at cap². Lossy for spans made entirely of
    ultra-common grams; the default None keeps the oracle contract
    exact.
    """
    toks = F.split(F.trim(F.col(text)), "\\s+")
    # checkpoint the COMPACT tokenized base (one row/doc, ~corpus text
    # size) rather than the exploded (doc, pos, gh) gram table (one row
    # per corpus TOKEN): both self-join sides still skip the parquet
    # scan + tokenize re-run, but executor storage pins O(docs) not
    # O(tokens). The md5 gram hashing re-runs per side — map-only CPU,
    # the right trade at 100 TB where a token-sized localCheckpoint is
    # a non-replicated single-point-of-failure materialization.
    # small-file inputs arrive as 1 split, and the checkpoint blocks
    # inherit that partitioning — the md5 gram hashing (k-token concat
    # + hash per token position, re-run per self-join side) would run
    # on ONE core. Scale-adaptive rebalance before the checkpoint:
    # identity (no exchange) when the scan already parallelizes.
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < parallelism:
        df = df.repartition(parallelism)
    base = (
        df.select(F.col(doc_id).alias("doc"), toks.alias("_t"))
        .filter(F.size("_t") >= k)
        .localCheckpoint(eager=False)
    )
    grams = base.select(
        "doc", F.posexplode(_gram_hashes(F.col("_t"), k)).alias("pos", "gh")
    )
    if max_gram_freq is not None:
        w = Window.partitionBy("gh")
        grams = (
            grams.withColumn("_n", F.count("*").over(w))
            .filter(F.col("_n") <= max_gram_freq)
            .drop("_n")
        )
    a, b = grams.alias("a"), grams.alias("b")
    matches = a.join(
        b, (F.col("a.gh") == F.col("b.gh")) & (F.col("a.doc") < F.col("b.doc"))
    ).select(
        F.col("a.doc").alias("doc_a"),
        F.col("b.doc").alias("doc_b"),
        F.col("a.pos").alias("pos_a"),
        F.col("b.pos").alias("pos_b"),
    )
    md = matches.withColumn("_diag", F.col("pos_a") - F.col("pos_b"))
    w = Window.partitionBy("doc_a", "doc_b", "_diag").orderBy("pos_a")
    islands = md.withColumn("_isl", F.col("pos_a") - F.row_number().over(w))
    return (
        islands.groupBy("doc_a", "doc_b", "_diag", "_isl")
        .agg(
            F.min("pos_a").alias("start_a"),
            F.min("pos_b").alias("start_b"),
            (F.count("*") + F.lit(k) - 1).cast("bigint").alias("match_tokens"),
        )
        .drop("_diag", "_isl")
    )


def contaminated_docs(
    df: DataFrame,
    benchmark: DataFrame,
    *,
    text: str = "text",
    doc_id: str = "doc_id",
    bench_text: str = "text",
    k: int = 13,
) -> DataFrame:
    """Benchmark decontamination: for each corpus document, how many of
    its k-gram windows appear verbatim in the benchmark set — the
    standard 13-gram-overlap contamination test (GPT-3 appendix C /
    PaLM style). Returns (doc_id, contaminated_grams, total_grams,
    contamination) for documents with at least one hit; downstream
    drops rows above a threshold.

    Scale shape: benchmark gram hashes are DISTINCT-ed and broadcast
    (benchmarks are ~10^5-10^6 grams — MBs against a 100 TB corpus);
    the corpus side stays map-only: gram-hash explode → broadcast
    semi-ish inner join → per-doc count. No corpus shuffle except the
    final per-doc aggregate, which is keyed by doc_id (uniform).
    """
    toks = F.split(F.trim(F.col(text)), "\\s+")
    base = df.select(F.col(doc_id).alias("doc"), toks.alias("_t")).filter(
        F.size("_t") >= k
    )
    # DISTINCT on BOTH sides of the ratio: the numerator counts distinct
    # contaminated grams, so the denominator must be the doc's distinct
    # gram count too — a raw window count would understate contamination
    # for repetitive docs (one benchmark gram repeated 10x would read as
    # ~11% contaminated instead of 100%)
    # bind the gram array ONCE before exploding: deriving size() and
    # explode() from the raw expression would place the size-Project
    # AFTER the Generate, re-evaluating the whole hash array once per
    # exploded row (~window-count× per doc — measured 25s vs 1.3s at
    # sf0.1). Two chained selects keep it one evaluation: CollapseProject
    # won't inline an expensive alias referenced twice.
    # explode_OUTER, not explode: the optimizer infers a
    # ``size(arr) > 0`` input filter for plain explode and inlines the
    # WHOLE gram expression into the scan filter — hashing every
    # window twice. outer generates a null row for empty arrays
    # instead (no inferred filter), and the inner join on gh drops
    # those rows anyway — identical output, half the hashing.
    distinct_grams = F.array_distinct(_gram_hashes(F.col("_t"), k))
    grams = base.select("doc", distinct_grams.alias("_dg")).select(
        "doc",
        F.size("_dg").alias("_ntok_d"),
        F.explode_outer("_dg").alias("gh"),
    )
    btoks = F.split(F.trim(F.col(bench_text)), "\\s+")
    bench_grams = (
        benchmark.select(btoks.alias("_t"))
        .filter(F.size("_t") >= k)
        .select(F.explode(_gram_hashes(F.col("_t"), k)).alias("gh"))
        .distinct()
    )
    hits = grams.join(F.broadcast(bench_grams), "gh")
    return hits.groupBy(F.col("doc").alias(doc_id)).agg(
        F.count("*").alias("contaminated_grams"),
        F.first("_ntok_d").cast("bigint").alias("total_grams"),
        F.round(
            F.count("*") / F.first("_ntok_d").cast("double"), 6
        ).alias("contamination"),
    )


def remove_shared_spans(
    df: DataFrame,
    *,
    text: str = "text",
    doc_id: str = "doc_id",
    k: int = 15,
    max_gram_freq: int | None = None,
) -> DataFrame:
    """The substring-dedup ACTION (Lee et al. 2022): rewrite each
    document with verbatim shared passages removed, keeping the FIRST
    occurrence (the span stays in the lower doc id, is cut from the
    higher). Returns (doc_id, text, removed_tokens).

    Shape on top of ``shared_ngram_spans``: spans explode to a distinct
    (doc, position) removal set; ONLY the affected documents (those
    with at least one removed position — the dup set, tiny vs the
    corpus) take the explode → anti-join → ordered-rebuild path. Clean
    documents are rewritten map-only (``array_join(split(...))`` — the
    same whitespace normalization the rebuild applies, byte-identical
    output) and never enter a shuffle: the groupBy volume is
    DUP-sized, not corpus-sized. The affected-id set is broadcast into
    both the semi and anti probes (bounded by the span finder's
    max_gram_freq-capped output; at 100 TB a pathological
    everything-is-duplicated corpus would need the broadcast dropped —
    the joins degrade to shuffles, not to wrong answers).
    """
    spans = shared_ngram_spans(
        df, text=text, doc_id=doc_id, k=k, max_gram_freq=max_gram_freq
    )
    # checkpoint the removal set: it feeds THREE plan branches (the
    # affected-id broadcast, the clean-path anti probe, the position
    # anti-join) and each would otherwise re-run the span finder's
    # self-join. The checkpoint is (doc, pos) longs for removed
    # positions only — dup-sized, tiny next to the corpus.
    removal = (
        spans.select(
            F.col("doc_b").alias("doc"),
            F.explode(
                F.sequence(
                    F.col("start_b"),
                    F.col("start_b") + F.col("match_tokens") - 1,
                )
            ).alias("pos"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    affected_ids = F.broadcast(removal.select("doc").distinct())
    aff = df.join(
        affected_ids, F.col(doc_id) == F.col("doc"), "left_semi"
    )
    toks = aff.select(
        F.col(doc_id).alias("doc"),
        F.posexplode(F.split(F.trim(F.col(text)), "\\s+")).alias("pos", "tok"),
    )
    kept = toks.join(removal, ["doc", "pos"], "left_anti")
    n_tokens = toks.groupBy("doc").agg(F.count("*").alias("_n"))
    rebuilt = (
        kept.groupBy("doc")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("text"),
            F.count("*").alias("_kept"),
        )
    )
    affected_out = (
        n_tokens.join(rebuilt, "doc", "left")
        .select(
            F.col("doc").alias(doc_id),
            F.coalesce(F.col("text"), F.lit("")).alias("text"),
            (F.col("_n") - F.coalesce(F.col("_kept"), F.lit(0)))
            .cast("bigint")
            .alias("removed_tokens"),
        )
    )
    # NULL-text docs vanish in the explode path (posexplode of a NULL
    # array generates no row) — the map-only path must drop them too
    clean_out = (
        df.join(affected_ids, F.col(doc_id) == F.col("doc"), "left_anti")
        .where(F.col(text).isNotNull())
        .select(
            F.col(doc_id),
            F.array_join(F.split(F.trim(F.col(text)), "\\s+"), " ").alias(
                "text"
            ),
            F.lit(0).cast("bigint").alias("removed_tokens"),
        )
    )
    return clean_out.unionByName(affected_out)


def _band_key_structs(num_hashes: int, bands: int):
    """Band-bucket key structs over a ``sig`` column — ONE construction
    shared by lsh_candidate_pairs / minhash_band_index so a persisted
    index stays join-compatible with freshly computed batch keys."""
    rows_per_band = num_hashes // bands
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ":",
                    *[
                        F.element_at("sig", b * rows_per_band + r + 1).cast("string")
                        for r in range(rows_per_band)
                    ],
                ).alias("key"),
            )
            for b in range(bands)
        ]
    )


def minhash_band_index(
    df: DataFrame,
    *,
    text: str = "text",
    doc_id: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_size: int = 3,
) -> DataFrame:
    """Persistable LSH index for INCREMENTAL dedup: one row per
    (doc, band) carrying the bucket key and the full signature —
    ``(doc_id, sig, band, key)``. Write it out partitioned by
    ``band`` (and bucketed by ``key`` for the 100 TB layout) and feed
    it to :func:`dedup_against_index` as new batches arrive; append
    the survivors' own index rows to keep it current. The whole
    historical corpus is never re-shuffled — only its (tiny) key rows.

    Docs too short to shingle (< ``shingle_size`` tokens) have no
    signature and produce no index rows — they can never be near-dups
    of anything (same contract as the batch and streaming operators).
    """
    if bands < 1 or bands > num_hashes or num_hashes % bands != 0:
        raise ValueError(
            f"bands must divide num_hashes (got bands={bands}, "
            f"num_hashes={num_hashes})"
        )
    sigs = minhash_signatures(
        df, text=text, doc_id=doc_id, num_hashes=num_hashes,
        shingle_size=shingle_size,
    )
    return sigs.select(
        F.col(doc_id).alias("doc_id"),
        "sig",
        F.explode(_band_key_structs(num_hashes, bands)).alias("bk"),
    ).select("doc_id", "sig", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def _guarded_index(index: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """Fail-fast wrapper over a persisted :func:`minhash_band_index`: a
    mismatched index (other ``num_hashes``/``bands``) would never
    key-match a fresh batch and history dedup silently becomes a no-op,
    so every row is checked map-side (``raise_error`` riding the
    consumer join's own scan — no extra action)."""
    sig_ok = (
        (F.size("sig") == num_hashes)
        & (F.col("band") >= 0)
        & (F.col("band") < bands)
        # keys are ':'-joined longs, so arity == components per band;
        # catches an index built with MORE bands (its band ids all fit
        # under `bands` but its keys are shorter and never match)
        & (F.size(F.split("key", ":")) == num_hashes // bands)
    )
    return index.withColumn(
        "sig",
        F.when(sig_ok, F.col("sig")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "minhash_band_index row incompatible with "
                        f"num_hashes={num_hashes}, bands={bands}: "
                        "sig length "
                    ),
                    F.size("sig").cast("string"),
                    F.lit(", band "),
                    F.col("band").cast("string"),
                    F.lit(" — was the index built with other parameters?"),
                )
            )
        ),
    )


def dedup_against_index(
    new_docs: DataFrame,
    index: DataFrame,
    *,
    text: str = "text",
    doc_id: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_size: int = 3,
    intra_batch: bool = True,
    new_index: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dedup — the production shape at 100 TB: dedup
    each day's NEW batch against the historical corpus's persisted
    :func:`minhash_band_index` instead of re-deduplicating everything.

    Drop rule vs history: a new doc sharing any band bucket with an
    indexed doc whose signature-estimated Jaccard (fraction of equal
    minhash components) >= ``threshold``. History stores only keys and
    signatures, so the verify step is signature-estimated — the exact
    n-gram Jaccard verify needs both texts and runs only INSIDE the
    batch (``intra_batch=True`` chains :func:`drop_near_duplicates`
    over the vs-history survivors).

    Scale shape: batch keys equi-join the index on (band, key) —
    bucket-collision pairs only, never batch × history; the Jaccard
    estimate is an array zip on those pairs; the final drop is an
    anti-join keyed on doc id. Returns the surviving new-batch rows
    (all input columns).

    An index persisted with different ``num_hashes``/``bands`` would
    never key-match the batch — history dedup silently becomes a no-op
    — so every index row is guarded with a ``raise_error`` check on
    signature length and band range (map-side, no extra action: it
    rides the join's own scan).

    ``new_index`` optionally supplies precomputed
    :func:`minhash_band_index` rows for ``new_docs`` (same schema:
    doc_id, sig, band, key). When the batch's band rows already exist —
    e.g. one banded pass over a combined table split into history and
    batch afterwards (band rows are per-doc, so banding then splitting
    is identical to splitting then banding) — passing them avoids a
    second full signature pass over the batch. The rows ride the same
    map-side ``raise_error`` guard as the history index (a
    ``new_index`` built with other ``num_hashes``/``bands`` would
    silently under-count matches: ``zip_with`` over mismatched
    signature lengths yields nulls the filter drops). Coverage is the
    caller's contract and CANNOT be checked cheaply: a ``new_docs``
    row with no ``new_index`` rows is never hit-checked against
    history and silently survives — pass band rows for exactly the
    batch being deduped.
    """
    if new_index is not None:
        missing = {"doc_id", "sig", "band", "key"} - set(new_index.columns)
        if missing:
            raise ValueError(
                "new_index must carry minhash_band_index columns "
                f"(doc_id, sig, band, key); missing {sorted(missing)}"
            )
        new_banded = _guarded_index(new_index, num_hashes, bands)
    else:
        new_banded = minhash_band_index(
            new_docs, text=text, doc_id=doc_id, num_hashes=num_hashes,
            bands=bands, shingle_size=shingle_size,
        )
    idx = _guarded_index(index, num_hashes, bands).select(
        F.col("sig").alias("_old_sig"), F.col("band"), F.col("key")
    )
    matches = F.size(
        F.filter(F.zip_with("sig", "_old_sig", lambda a, b: a == b), lambda x: x)
    )
    hits = (
        new_banded.join(idx, ["band", "key"])
        .filter(matches / F.lit(num_hashes) >= F.lit(threshold))
        .select(F.col("doc_id").alias("_hit"))
        .distinct()
    )
    survivors = new_docs.join(
        hits, new_docs[doc_id] == F.col("_hit"), "left_anti"
    )
    if intra_batch:
        # drop_near_duplicates references its input ~4 times (exact
        # fingerprint path, n-gram pairs, final anti-join); without a
        # lineage cut each reference replays the whole vs-history
        # pipeline (both minhash passes + the bucket join). The batch's
        # survivors are day-sized, not corpus-sized — checkpointing
        # them is the production shape too.
        survivors = survivors.localCheckpoint(eager=False)
        survivors = drop_near_duplicates(
            survivors, text=text, doc_id=doc_id, n=shingle_size,
            threshold=threshold, num_hashes=num_hashes, bands=bands,
        )
    return survivors


def fingerprint_index(
    df: DataFrame, *, text: str = "text", doc_id: str = "doc_id"
) -> DataFrame:
    """Persistable EXACT-dup index: (fingerprint, doc_id) rows keyed on
    the normalized-text md5 — the cheap companion to
    :func:`minhash_band_index` covering what signatures can't (docs too
    short to shingle) and what they needn't (bit-identical copies).
    One row per doc; append survivors' rows after each batch."""
    from unstructured_spark.operators.text_analysis import fingerprint

    return df.select(
        fingerprint(F.col(text)).alias("fingerprint"),
        F.col(doc_id).alias("doc_id"),
    )


def merge_fingerprint_indexes(*indexes: DataFrame) -> DataFrame:
    """Union exact-dup indexes: one (fingerprint, doc_id) row per
    fingerprint survives the merge, keeping the SMALLEST doc_id (the
    canonical first owner — merging is therefore idempotent and
    order-independent). The exact-index twin of
    :func:`merge_bloom_indexes` for the day-over-day incremental
    cycle: merged = merge(yesterday, fingerprint_index(survivors)).
    One groupBy on the fingerprint key.
    """
    if not indexes:
        raise ValueError("need at least one fingerprint index")
    u = indexes[0]
    for i in indexes[1:]:
        u = u.unionByName(i)
    return u.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id"))


def exact_dedup_against_index(
    new_docs: DataFrame,
    index: DataFrame,
    *,
    text: str = "text",
    doc_id: str = "doc_id",
    intra_batch: bool = True,
) -> DataFrame:
    """Incremental EXACT dedup: drop new docs whose normalized-text
    fingerprint already exists in the historical
    :func:`fingerprint_index`; with ``intra_batch`` also keep only the
    min-id copy per fingerprint inside the batch. One anti-join keyed
    on the fingerprint + one batch-side groupBy — history never
    re-shuffled (anti-join semantics are unaffected by duplicate keys
    on the build side, so the index is used as-is). NULL-text docs
    have a NULL fingerprint and pass through untouched — same contract
    as :func:`drop_near_duplicates` and :func:`dedup_against_index`.
    Returns the surviving new-batch rows."""
    from unstructured_spark.operators.text_analysis import fingerprint

    fp = fingerprint(F.col(text))
    staged = new_docs.withColumn("_nfp", fp)
    survivors = staged.join(
        index.select(F.col("fingerprint").alias("_nfp")),
        "_nfp",
        "left_anti",
    )
    if intra_batch:
        w_min = survivors.groupBy("_nfp").agg(
            F.min(F.col(doc_id)).alias("_keep")
        )
        # inner equi-join never matches the NULL fingerprint group, so
        # keep-min applies only to real fingerprints and NULL-text rows
        # survive via the union, not silently vanish
        kept = survivors.filter(F.col("_nfp").isNotNull()).join(
            w_min, "_nfp"
        ).filter(F.col(doc_id) == F.col("_keep")).drop("_keep")
        survivors = kept.unionByName(
            survivors.filter(F.col("_nfp").isNull())
        )
    return survivors.drop("_nfp")


def _bloom_positions(key: Column, m_bits: int, k: int, seed: str) -> Column:
    """The ``k`` bit positions of ``key`` in an ``m_bits`` Bloom
    filter: independent md5 draws via hash-input suffixing —
    engine-portable (DuckDB replays the identical positions)."""
    return F.array(
        *[
            token_hash(F.concat_ws(":", key, F.lit(str(j)), F.lit(seed)))
            % F.lit(int(m_bits))
            for j in range(int(k))
        ]
    )


def bloom_fingerprint_index(
    df: DataFrame,
    *,
    text: str = "text",
    doc_id: str = "doc_id",
    m_bits: int = 1 << 20,
    k: int = 4,
    seed: str = "bloom-v1",
) -> DataFrame:
    """Compact PROBABILISTIC membership index over normalized-text
    fingerprints: a Bloom filter as a sparse (word, bits) table —
    32-bit words, so every bit op stays in positive BIGINT range in
    both engines. At the default 2^20 bits / k=4 the whole filter is
    ≤ 32k rows (~0.5 MB) regardless of corpus size — it broadcasts
    where the exact :func:`fingerprint_index` (one row PER DOC) costs
    an anti-join shuffle against history.

    The probe (:func:`bloom_probe_new`) is then MAP-ONLY over the new
    batch: no shuffle touches history at all, the right cost shape for
    a 100 TB-history / small-batch incremental dedup gate. One-sided
    error: ``maybe_seen=false`` is definitive (guaranteed-new docs can
    skip the exact index entirely); ``maybe_seen=true`` rows — a
    deterministic false-positive fraction ≈ (1−e^{−kn/m})^k of the
    genuinely-new — are the only ones that still need the exact
    anti-join. Size ``m_bits`` ≥ ~10 bits/doc for ~1% FP (2^20 bits →
    ~100k docs; scale up for real history).

    Deterministic end-to-end (md5 positions, integer bit ops), so the
    DuckDB oracle replays the filter AND the probe bit-for-bit.
    NULL-text docs contribute no bits (NULL fingerprint — same
    exemption as the exact index).
    """
    from unstructured_spark.operators.text_analysis import fingerprint

    pos = (
        df.select(fingerprint(F.col(text)).alias("_fp"))
        .filter(F.col("_fp").isNotNull())
        .select(
            F.explode(
                _bloom_positions(F.col("_fp"), m_bits, k, seed)
            ).alias("_pos")
        )
    )
    return (
        pos.select(
            F.expr("_pos div 32").alias("word"),
            F.expr("cast(1 as bigint) << cast(_pos % 32 as int)").alias("_bit"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(_bit)").cast("bigint").alias("bits"))
    )


def merge_bloom_indexes(*blooms: DataFrame) -> DataFrame:
    """Union Bloom filters EXACTLY: same (m_bits, k, seed) filters
    merge by OR-ing their words — merge(bloom(A), bloom(B)) equals
    bloom(A ∪ B) bit-for-bit, because positions are a pure function of
    the fingerprint. The incremental-index maintenance op: day-N
    history filter = merge(day N-1 filter, filter(new survivors)) —
    never a rebuild over 100 TB of history, and the merge input is
    filters (≤ m_bits/32 rows each), not documents. One small groupBy.
    """
    if not blooms:
        raise ValueError("need at least one bloom index")
    u = blooms[0]
    for b in blooms[1:]:
        u = u.unionByName(b)
    return u.groupBy("word").agg(
        F.expr("bit_or(bits)").cast("bigint").alias("bits")
    )


def bloom_probe_new(
    new_docs: DataFrame,
    bloom: DataFrame,
    *,
    text: str = "text",
    doc_id: str = "doc_id",
    m_bits: int = 1 << 20,
    k: int = 4,
    seed: str = "bloom-v1",
) -> DataFrame:
    """Probe a batch against a :func:`bloom_fingerprint_index` built
    with the SAME (m_bits, k, seed). Returns the batch keys plus
    ``maybe_seen``: false = definitively new (safe to skip the exact
    history anti-join), true = present in the filter (an exact check
    decides). NULL-text docs probe as ``maybe_seen=false`` (they carry
    no fingerprint; the exact path passes them through too).

    Scale shape: the filter is broadcast (≤ m_bits/32 rows by
    construction), the probe is explode → broadcast join → one
    groupBy(doc) — the batch is shuffled once on its own doc ids,
    history never.
    """
    from unstructured_spark.operators.text_analysis import fingerprint

    staged = new_docs.select(
        F.col(doc_id).alias("doc"), fingerprint(F.col(text)).alias("_fp")
    )
    probes = staged.filter(F.col("_fp").isNotNull()).select(
        "doc",
        F.explode(_bloom_positions(F.col("_fp"), m_bits, k, seed)).alias(
            "_pos"
        ),
    )
    hits = (
        probes.select("doc", F.expr("_pos div 32").alias("word"),
                      F.expr("cast(_pos % 32 as int)").alias("_b"))
        .join(F.broadcast(bloom), "word", "left")
        .select(
            "doc",
            (
                F.expr("(coalesce(bits, 0) >> _b) & 1") == F.lit(1)
            ).alias("_hit"),
        )
        .groupBy("doc")
        .agg(F.min(F.col("_hit").cast("int")).alias("_all"))
    )
    return (
        staged.select("doc")
        .distinct()
        .join(hits, "doc", "left")
        .select(
            F.col("doc").alias(doc_id),
            (F.coalesce(F.col("_all"), F.lit(0)) == F.lit(1)).alias(
                "maybe_seen"
            ),
        )
    )


def bloom_probe_stream(
    new_docs: DataFrame,
    bloom: DataFrame,
    *,
    text: str = "text",
    m_bits: int = 1 << 20,
    k: int = 4,
    seed: str = "bloom-v1",
) -> DataFrame:
    """Map-only streaming twin of :func:`bloom_probe_new`: the sparse
    (word, bits) filter — ≤ m_bits/32 rows by construction — is
    collected once and broadcast; each Arrow batch probes in pure
    Python integers. Stateless ``mapInPandas``, so it composes with
    append sinks, watermarks, and availableNow drains (the aggregation
    in the batch form does not). Bit-identical verdicts to the batch
    probe by construction — same md5 positions, same bit tests —
    pinned by ``tests/test_dedup_cap.py``.

    The streaming incremental-dedup front door: stream → this gate →
    only ``maybe_seen`` rows (a tiny fraction) proceed to the exact
    index anti-join; guaranteed-new rows flow through shuffle-free
    (see ``streaming.dedup.exact_dedup_stream_against_index``). A
    pass-through gate: emits every input column unchanged plus
    ``maybe_seen``.
    """
    import pandas as pd
    from pyspark.sql.types import BooleanType, StructField, StructType

    words = {int(r["word"]): int(r["bits"]) for r in bloom.collect()}
    bc = new_docs.sparkSession.sparkContext.broadcast(words)
    m, kk, sd = int(m_bits), int(k), str(seed)
    # copy the field list: StructType.add MUTATES, and new_docs.schema
    # is the DataFrame's cached schema object — mutating it makes the
    # source frame claim a column it doesn't have
    out_schema = StructType(
        list(new_docs.schema.fields)
        + [StructField("maybe_seen", BooleanType())]
    )

    def run(batches):
        import hashlib
        import re

        # ASCII \s, matching the column path's Java regex semantics
        # (same mirror discipline as nb_score_stream); SQL trim() strips
        # ONLY the space char, so .strip(" ") — not Java String.trim
        ws = re.compile(r"[ \t\n\x0b\f\r]+")
        table = bc.value

        def fp(txt):
            if txt is None:
                return None
            norm = ws.sub(" ", str(txt)).strip(" ").lower()
            return hashlib.md5(norm.encode()).hexdigest()

        def probe(txt):
            f = fp(txt)
            if f is None:
                return False
            for j in range(kk):
                pos = (
                    int(
                        hashlib.md5(f"{f}:{j}:{sd}".encode()).hexdigest()[:15],
                        16,
                    )
                    % m
                )
                if not (table.get(pos // 32, 0) >> (pos % 32)) & 1:
                    return False
            return True

        for pdf in batches:
            res = pdf.copy()
            res["maybe_seen"] = [probe(t) for t in pdf[text]]
            yield res

    return new_docs.mapInPandas(run, out_schema)


def remove_boilerplate_lines(
    df: DataFrame,
    *,
    text: str = "text",
    doc_id: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """CCNet-style corpus-level line/paragraph dedup (Wenzek et al.
    2020 §3.1 — their first preprocessing step removes paragraphs
    duplicated across shards: navigation chrome, cookie banners,
    license headers): a LINE is boilerplate when its normalized
    fingerprint appears in >= ``min_docs`` DISTINCT documents; every
    occurrence is removed and each document is reassembled from its
    surviving lines in original order. Returns (doc_id, text,
    removed_lines) — documents whose every line is boilerplate come
    back with empty text, not dropped (the caller's quality gate
    decides their fate).

    Distinct from :func:`shared_ngram_spans` (token n-gram passages
    WITHIN near-dup pairs) — this is the cheap corpus-wide structural
    pass that runs first.

    Scale shape: posexplode (map-only) → one count shuffle keyed on
    the line fingerprint (uniform md5) → one anti-join against the
    frequent-line set (boilerplate table is tiny relative to the
    corpus; AQE broadcasts it when it fits) → one groupBy(doc)
    reassembly. Never all-pairs, nothing driver-side.
    """
    # NULL text → treat as empty doc (coalesce BEFORE the split: split
    # of null yields no posexplode rows but size() of null is -1, which
    # would publish removed_lines=-1 and diverge from the oracle)
    src = df.withColumn(text, F.coalesce(F.col(text), F.lit("")))
    lines = src.select(
        F.col(doc_id).alias("doc"),
        F.posexplode(F.split(F.col(text), "\n")).alias("pos", "line"),
    ).withColumn(
        "_fp",
        F.md5(F.lower(F.trim(F.regexp_replace(F.col("line"), "\\s+", " ")))),
    )
    # blank = empty under the SAME normalization as the fingerprint —
    # F.trim alone strips only spaces, so a CRLF corpus's "\r" lines
    # would otherwise count as content, put md5("") into the frequent
    # set, and delete every blank separator line corpus-wide
    norm_nonempty = (
        F.trim(F.regexp_replace(F.col("line"), "\\s+", " ")) != ""
    )
    frequent = (
        lines.filter(norm_nonempty)
        .groupBy("_fp")
        .agg(F.countDistinct("doc").alias("_df"))
        .filter(F.col("_df") >= int(min_docs))
        .select("_fp")
    )
    # blank lines keep paragraph structure: they are excluded from the
    # frequency count above, so their fingerprint is never in
    # `frequent` and the anti-join always keeps them
    kept = lines.join(frequent, "_fp", "left_anti")
    rebuilt = kept.groupBy("doc").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("_clean"),
        F.count("*").alias("_nkept"),
    )
    # per-doc line totals straight off the source table (map-only) —
    # going through `lines` would re-run the posexplode a third time
    counts = src.select(
        F.col(doc_id).alias("doc"),
        F.size(F.split(F.col(text), "\n")).cast("bigint").alias("_nlines"),
    )
    return (
        counts.join(rebuilt, "doc", "left")
        .select(
            F.col("doc").alias(doc_id),
            # honor the caller's text column name (a caller passing
            # text='body' gets 'body' back, not a silent rename)
            F.coalesce(F.col("_clean"), F.lit("")).alias(text),
            (F.col("_nlines") - F.coalesce(F.col("_nkept"), F.lit(0)))
            .cast("bigint")
            .alias("removed_lines"),
        )
    )


def dedup_paragraphs(
    df: DataFrame,
    *,
    text: str = "text",
    doc_id: str = "doc_id",
    sep: str = "\n\n",
) -> DataFrame:
    """Dolma-style keep-FIRST paragraph dedup (Soldaini et al. 2024,
    the `dedupe.paragraphs` pass): every occurrence of a paragraph
    EXCEPT the globally first one (minimum ``(doc_id, position)``) is
    removed, and each document is reassembled from its surviving
    paragraphs in original order. Returns (doc_id, text,
    removed_paragraphs).

    Distinct from :func:`remove_boilerplate_lines` (CCNet semantics:
    a frequent line is removed EVERYWHERE — destructive by design for
    navigation chrome) — this pass is content-preserving: exactly one
    copy of every paragraph survives corpus-wide, the standard
    pre-training corpus treatment for duplicated quotes/licenses that
    are still real content. First-occurrence order follows
    ``(doc_id asc, position asc)``; string doc ids order
    lexicographically (same contract as the span-dedup rewriters).

    Scale shape: posexplode (map-only) → one min-aggregate shuffle
    keyed on the paragraph fingerprint (uniform md5, map-side
    partials) → one fingerprint-keyed join back → one groupBy(doc)
    reassembly. The winner pick is an aggregate, NOT a row_number
    window, so an ultra-frequent paragraph costs a combiner-friendly
    min, never a single-partition sort.

    Blank/whitespace-only paragraphs keep document structure: they are
    exempt from dedup (all occurrences survive), mirroring the blank
    exemption of the boilerplate pass.

    ``sep`` is a LITERAL string, not a regex (contract since round 9:
    the reassembly rejoins with the literal separator, so the split
    must match it byte-for-byte). A regex separator like ``'\\n{2,}'``
    matches nothing — pre-normalize variable-width separators to a
    canonical literal first if you need that.
    """
    if any(ch in sep for ch in "{}[]()*+?^$") and len(sep) > 1:
        import warnings

        warnings.warn(
            "dedup_paragraphs treats sep as a LITERAL separator "
            f"(got {sep!r}); regex patterns match nothing — "
            "pre-normalize the text to a literal separator instead",
            stacklevel=2,
        )
    # F.split takes a Java REGEX but array_join rebuilds with the
    # LITERAL separator — quote the separator (Pattern.quote \Q..\E)
    # so a metachar sep ('|', '.') splits exactly where it rejoins
    sep_re = "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    src = df.withColumn(text, F.coalesce(F.col(text), F.lit("")))
    paras = src.select(
        F.col(doc_id).alias("doc"),
        F.posexplode(F.split(F.col(text), sep_re)).alias("pos", "para"),
    ).withColumn(
        "_fp",
        F.md5(F.lower(F.trim(F.regexp_replace(F.col("para"), "\\s+", " ")))),
    )
    norm_nonempty = (
        F.trim(F.regexp_replace(F.col("para"), "\\s+", " ")) != ""
    )
    winners = (
        paras.filter(norm_nonempty)
        .groupBy("_fp")
        .agg(
            F.min(
                F.struct(F.col("doc").alias("d"), F.col("pos").alias("p"))
            ).alias("_w")
        )
    )
    kept = (
        paras.join(winners, "_fp", "left")
        .filter(
            F.col("_w").isNull()  # blank paragraphs: never deduped
            | (
                (F.col("doc") == F.col("_w.d"))
                & (F.col("pos") == F.col("_w.p"))
            )
        )
    )
    rebuilt = kept.groupBy("doc").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
            sep,
        ).alias("_clean"),
        F.count("*").alias("_nkept"),
    )
    counts = src.select(
        F.col(doc_id).alias("doc"),
        F.size(F.split(F.col(text), sep_re)).cast("bigint").alias("_nparas"),
    )
    return counts.join(rebuilt, "doc", "left").select(
        F.col("doc").alias(doc_id),
        F.coalesce(F.col("_clean"), F.lit("")).alias(text),
        (F.col("_nparas") - F.coalesce(F.col("_nkept"), F.lit(0)))
        .cast("bigint")
        .alias("removed_paragraphs"),
    )


def dedup_within_doc(
    df: DataFrame,
    *,
    text: str = "text",
    doc_id: str = "doc_id",
    sep: str = "\n\n",
    giant_paragraphs: int | None = 4096,
) -> DataFrame:
    """Intra-document paragraph dedup (the Dolma/Gopher repetition
    REMOVAL action, within-doc scope): inside each document, every
    repeat of an earlier paragraph is dropped and the document is
    reassembled from its surviving paragraphs in original order.
    Returns (doc_id, text, removed_paragraphs). Complements
    :func:`dedup_paragraphs` (corpus-wide keep-first — one shuffle on
    the paragraph fingerprint): template spam that repeats WITHIN a
    page needs no corpus statistics at all.

    Comparison key matches :func:`dedup_paragraphs`: paragraphs are
    compared whitespace-normalized + lowercased; blank/whitespace-only
    paragraphs are exempt (all occurrences survive — they are document
    structure, not content). ``sep`` is a LITERAL separator, same
    contract as :func:`dedup_paragraphs`.

    Scale shape: ONE exchange-free projection for ALL documents — a
    single pass over the corpus, zero shuffles, entirely inside
    whole-stage codegen. The keep-first set is computed per row in
    O(paragraphs log paragraphs), not the old O(paragraphs²) prefix
    scan: sort (normalized, position) structs, mark an element dup iff
    its sorted predecessor shares the normalization (equal norms are
    adjacent after the sort, and the smallest position in a run is by
    construction the first occurrence), then rebuild the document from
    the surviving positions in original order. A 20k-paragraph
    template-spam outlier costs ~20k·log compares instead of 2·10⁸ —
    no giant-doc side branch (and therefore no second corpus scan, no
    union, no window shuffle) is needed anymore; this replaced the r11
    two-branch form whose per-branch pushed filters each re-read the
    source (512× probe: 37 s two-branch vs 19 s single-path).

    ``giant_paragraphs`` is retained for API compatibility but no
    longer affects the plan: every document takes the same
    O(n log n) projection.
    """
    del giant_paragraphs  # single-path form: threshold obsolete
    sep_re = "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    norm = lambda c: F.lower(F.trim(F.regexp_replace(c, "\\s+", " ")))  # noqa: E731
    src_df = df.withColumn(text, F.coalesce(F.col(text), F.lit("")))
    paras = F.split(F.col(text), sep_re)

    # (normalized, original position) structs, sorted: array_sort on
    # structs orders by fields left-to-right, so equal normalizations
    # are adjacent with their first occurrence leading the run.
    srt = F.array_sort(
        F.transform(
            paras,
            lambda p, i: F.struct(norm(p).alias("nm"), i.alias("pos")),
        )
    )
    # Staged selects bind _ps/_srt/_kp ONCE each (CollapseProject will
    # not inline an alias referenced more than once — same discipline
    # as contaminated_docs), so neither the sort nor the split is
    # recomputed.
    staged = src_df.select(F.col(doc_id), paras.alias("_ps"), srt.alias("_srt"))
    # element i of the sorted array is a duplicate iff it is non-blank
    # (blank/whitespace-only paragraphs are structure, all survive) and
    # its predecessor has the same normalization; survivors' positions,
    # re-sorted, are the keep-first set in original order
    flagged = F.transform(
        F.col("_srt"),
        lambda s, i: F.struct(
            s["pos"].alias("pos"),
            (
                (i > 0)
                & (s["nm"] != F.lit(""))
                & (F.get(F.col("_srt"), i - 1)["nm"] == s["nm"])
            ).alias("dup"),
        ),
    )
    kept_pos = F.array_sort(
        F.transform(
            F.filter(flagged, lambda x: ~x["dup"]), lambda x: x["pos"]
        )
    )
    staged2 = staged.select(F.col(doc_id), "_ps", kept_pos.alias("_kp"))
    return staged2.select(
        F.col(doc_id),
        F.array_join(
            F.transform(F.col("_kp"), lambda p: F.get(F.col("_ps"), p)),
            sep,
        ).alias(text),
        (F.size("_ps") - F.size("_kp")).cast("bigint").alias(
            "removed_paragraphs"
        ),
    )


def leakage_safe_split(
    df: DataFrame,
    *,
    fractions: tuple[float, ...] = (0.9, 0.05, 0.05),
    names: tuple[str, ...] = ("train", "validation", "test"),
    seed: str = "split-v1",
    text: str = "text",
    doc_id: str = "doc_id",
    **lsh_kwargs,
) -> DataFrame:
    """Near-dup-aware train/validation/test assignment: every member of
    a near-duplicate cluster (LSH candidates → connected components)
    lands in the SAME split — closing the classic evaluation-leakage
    hole where one copy of a document trains while its near-twin sits
    in the test set inflating scores.

    Assignment is the deterministic md5-uniform draw of the CLUSTER
    label (min doc id of the component; unclustered docs are their own
    label), cut at cumulative ``fractions`` — reproducible,
    append-stable for unclustered docs, and engine-portable (the
    oracle replays the label and the draw bit-for-bit).

    Scale shape: the dedup clustering dominates (see
    ``duplicate_clusters``); the assignment itself is one left join on
    doc id plus a map-only case expression.

    Returns (doc_id, split_group, split).
    """
    if len(fractions) != len(names):
        raise ValueError("fractions and names must align")
    if abs(sum(fractions) - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {sum(fractions)}")
    from unstructured_spark.operators.sampling import hash_uniform

    clusters = duplicate_clusters(
        df, text=text, doc_id=doc_id, **lsh_kwargs
    ).select(F.col("doc"), F.col("label"))
    # type-preserving: the canonical element schema's doc_id is a
    # STRING — a long cast would null every id and send the whole
    # corpus to one split. Cluster labels come from the same column,
    # so coalesce types always line up.
    base = df.select(F.col(doc_id).alias("doc_id"))
    labeled = (
        base.join(clusters, base.doc_id == clusters.doc, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("label"), F.col("doc_id")).alias("split_group"),
        )
    )
    u = hash_uniform(F.col("split_group"), seed)
    cut = 0.0
    expr = None
    for frac, name in zip(fractions[:-1], names[:-1]):
        cut += frac
        cond = u < F.lit(cut)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    expr = (
        F.lit(names[0]) if expr is None else expr.otherwise(F.lit(names[-1]))
    )
    return labeled.withColumn("split", expr)
