"""Pins for ``storage.spread``, the one small-input rebalance rule.

Its callers: dedup.minhash_signatures, dedup.simhash_pairs,
dedup.ngram_jaccard_pairs, dedup.shared_ngram_spans,
text_analysis.winnow_fingerprints, classifier._doc_buckets,
similarity.cosine_topk, partition_auto._size_parse_tasks and the
q_main_content, q_page_metadata and q_curriculum_order builders;
od_map.match_detections sizes its buckets from
``storage.planned_partitions``. They must:

1. be an IDENTITY — no RoundRobinPartitioning exchange — when the
   input already parallelizes (the 100 TB case),
2. produce bit-identical results whether the input arrives as one
   split or many (the rebalance must not leak into any result), and
3. run no Spark job to decide: an input with an adaptive plan (an
   exchange, an aggregate, a join under AQE), or a stream, keeps its
   partitioning.

``partition_documents`` also sizes its parse tasks by input bytes: many
small-file splits coalesce, with no shuffle, to two tasks per core, and
a scan whose bytes need more tasks keeps its splits.
"""

import contextlib
import os
import pathlib
import sys

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from unstructured_spark.operators import dedup, similarity, text_analysis  # noqa: E402
from unstructured_spark.operators.classifier import nb_classify  # noqa: E402
from unstructured_spark.operators.storage import planned_partitions, spread  # noqa: E402
from unstructured_spark.schema import ELEMENT_COLUMNS  # noqa: E402


def _docs(spark, n_parts, *, scan=False):
    """120 docs in ``n_parts`` partitions: one split, or a round-robin
    exchange over the range. With ``scan`` the range scan itself has
    ``n_parts`` splits and nothing sits on top of it."""
    base = spark.range(0, 120, numPartitions=n_parts if scan else None).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.lit("alpha beta gamma delta epsilon zeta eta theta"),
            (F.col("id") % 7).cast("string"),
            (F.col("id") % 3).cast("string"),
            F.lit("iota kappa lambda mu nu xi omicron pi rho sigma"),
            (F.col("id") % 11).cast("string"),
        ).alias("text"),
        (F.col("id") % 4).cast("string").alias("source"),
    )
    if scan:
        return base
    return base.coalesce(1) if n_parts == 1 else base.repartition(n_parts)


def _rows(df):
    return sorted(tuple(str(x) for x in r) for r in df.collect())


def test_simhash_spread_identity_when_input_parallelizes(spark, monkeypatch):
    """``simhash_pairs`` checkpoints the spread frame, so the plan to read
    is the one handed to ``localCheckpoint``: over a scan with more
    splits than cores it has no round-robin exchange; over one split it
    has one."""
    # the class PySpark 4.1 instantiates; patching pyspark.sql.DataFrame
    # intercepts nothing
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    checkpointed = []
    real = ClassicDataFrame.localCheckpoint

    def record(self, *args, **kwargs):
        checkpointed.append(self._jdf.queryExecution().sparkPlan().toString())
        return real(self, *args, **kwargs)

    monkeypatch.setattr(ClassicDataFrame, "localCheckpoint", record)
    p = spark.sparkContext.defaultParallelism
    dedup.simhash_pairs(_docs(spark, 2 * p, scan=True), bits=48, max_distance=2)
    assert len(checkpointed) == 1
    assert "RoundRobinPartitioning" not in checkpointed[0]
    dedup.simhash_pairs(_docs(spark, 1), bits=48, max_distance=2)
    assert len(checkpointed) == 2
    assert "RoundRobinPartitioning" in checkpointed[1]


def test_simhash_results_identical_across_input_splits(spark):
    one = dedup.simhash_pairs(_docs(spark, 1), bits=48, max_distance=2)
    many = dedup.simhash_pairs(_docs(spark, 8), bits=48, max_distance=2)
    assert _rows(one) == _rows(many)


def test_shared_ngram_spans_results_identical_across_input_splits(spark):
    one = dedup.shared_ngram_spans(_docs(spark, 1), k=5)
    many = dedup.shared_ngram_spans(_docs(spark, 8), k=5)
    assert _rows(one) == _rows(many)


def test_nb_classify_results_identical_across_input_splits(spark):
    def run(n_parts):
        docs = _docs(spark, n_parts)
        seed = docs.filter(F.col("doc_id") % 10 < 3)
        return nb_classify(
            docs, seed, label="source", buckets=256, max_tokens=32,
            seed_in_corpus=True,
        )
    assert _rows(run(1)) == _rows(run(8))


def test_winnow_results_identical_across_input_splits(spark):
    one = text_analysis.winnow_fingerprints(_docs(spark, 1), k=3, window=4)
    many = text_analysis.winnow_fingerprints(_docs(spark, 8), k=3, window=4)
    assert _rows(one) == _rows(many)


def _vectors(spark, n_parts):
    base = spark.range(0, 60).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[((F.col("id") * (j + 3)) % 11 - 5).cast("double") for j in range(6)]
        ).alias("embedding"),
    )
    return base.coalesce(1) if n_parts == 1 else base.repartition(n_parts)


def test_cosine_topk_results_identical_across_input_splits(spark):
    def run(n_parts):
        corpus = _vectors(spark, n_parts)
        return similarity.cosine_topk(corpus, corpus.filter("vec_id % 7 = 0"), k=5)

    assert _rows(run(1)) == _rows(run(8))


# --- deciding from the plan, without a job --------------------------------


def _jobs_in(spark, group, build):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc._jsc.clearJobGroup()
    # the status store is fed by an asynchronous listener
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_grouped_input_starts_no_job(spark):
    """Over an input that ends in an exchange (an AdaptiveSparkPlan) the
    partition count is unknown until run; the builders keep its
    partitioning rather than run its stages to count them."""
    docs = _docs(spark, 8).groupBy("doc_id").agg(F.first("text").alias("text"))
    assert planned_partitions(docs) is None
    sigs, jobs = _jobs_in(
        spark, "spread-minhash", lambda: dedup.minhash_signatures(docs)
    )
    assert jobs == 0
    assert _rows(sigs) == _rows(dedup.minhash_signatures(_docs(spark, 1)))

    corpus = _vectors(spark, 8).groupBy("vec_id").agg(
        F.first("embedding").alias("embedding")
    )
    top, jobs = _jobs_in(
        spark, "spread-cosine", lambda: similarity.cosine_topk(corpus, corpus, k=3)
    )
    assert jobs == 0
    assert _rows(top) == _rows(similarity.cosine_topk(_vectors(spark, 1), corpus, k=3))


def test_spread_repartitions_only_a_known_narrow_input(spark):
    p = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 120, numPartitions=p)
    assert spread(wide) is wide
    narrow = spread(wide.coalesce(1))
    assert "RoundRobinPartitioning" in narrow._jdf.queryExecution().sparkPlan().toString()
    stream = spark.readStream.format("rate").load()
    assert planned_partitions(stream) is None
    assert spread(stream) is stream


def test_partition_count_read_only_in_storage():
    """Every reader of a partition count goes through
    storage.planned_partitions, so none of them can run a job."""
    hits = [
        str(f.relative_to(REPO))
        for top in ("unstructured_spark", "entry_queries")
        for f in sorted(pathlib.Path(REPO, top).rglob("*.py"))
        if "rdd.getNumPartitions()" in f.read_text()
    ]
    assert hits == ["unstructured_spark/operators/storage.py"]


# --- r13: ngram_jaccard_pairs staged shingle projection -------------------


def test_staged_sigs_equal_minhash_signatures(spark):
    """The staged-shingle signature build (r13: one tokenize pass
    shared by the LSH chain and both Jaccard join sides) must produce
    component-identical signatures to the public minhash_signatures
    operator — the LSH band keys, est_jaccard, and every downstream
    oracle hash depend on it."""
    docs = _docs(spark, 4)
    ref = {
        r["doc_id"]: list(r["sig"])
        for r in dedup.minhash_signatures(docs, num_hashes=16, shingle_size=3).collect()
    }
    sh = docs.select(
        F.col("doc_id").alias("doc"), dedup.shingles(F.col("text"), 3).alias("sh")
    )
    staged = {
        r["doc"]: list(r["sig"])
        for r in dedup._minhash_sigs_from_shingles(sh, 16).collect()
    }
    assert ref == staged


def test_ngram_jaccard_results_identical_across_input_splits(spark):
    one = dedup.ngram_jaccard_pairs(_docs(spark, 1), n=3, threshold=0.1)
    many = dedup.ngram_jaccard_pairs(_docs(spark, 8), n=3, threshold=0.1)
    assert _rows(one) == _rows(many)


# --- partition_documents: parse tasks sized by bytes ----------------------


@contextlib.contextmanager
def _conf(spark, key, value):
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def _small_files(spark, tmp_path):
    n = max(60, 4 * spark.sparkContext.defaultParallelism)
    for i in range(n):
        (tmp_path / f"doc{i:03d}.txt").write_text(
            f"Section {i}\n\n" + f"Filler sentence number {i} for the parse. " * 60
        )
    return str(tmp_path), n


def _parse(spark, src):
    from unstructured_spark.operators.partition_auto import partition_documents
    from unstructured_spark.sources.files import read_documents

    docs = read_documents(spark, src)
    els = partition_documents(docs)
    plan = els._jdf.queryExecution().sparkPlan().toString()
    return docs.rdd.getNumPartitions(), els.rdd.getNumPartitions(), plan, _rows(els)


def test_partition_coalesces_small_file_splits_by_bytes(spark, tmp_path):
    """Many small files read as one split each are parsed in 2 ×
    defaultParallelism tasks, coalesced with no shuffle; with
    maxPartitionBytes lowered until the size estimate needs more tasks
    than there are splits, the splits are left as they are. The element
    rows are the same either way."""
    p = spark.sparkContext.defaultParallelism
    src, n = _small_files(spark, tmp_path)
    # a split as large as one file's 4 MB open cost: one split per file
    with _conf(spark, "spark.sql.files.maxPartitionBytes", str(4 << 20)):
        splits, tasks, plan, coalesced = _parse(spark, src)
    assert splits == n
    assert tasks == 2 * p
    assert "Coalesce" in plan and "Exchange" not in plan

    with _conf(spark, "spark.sql.files.maxPartitionBytes", "1024"):
        splits, tasks, plan, as_is = _parse(spark, src)
    assert splits == tasks == n
    assert "Coalesce" not in plan and "Exchange" not in plan
    assert as_is == coalesced
    doc_id = ELEMENT_COLUMNS.index("doc_id")
    assert len({r[doc_id] for r in as_is}) == n  # every document parsed
