"""N-gram window kernel and shingles against a pure-Python reference,
``connected_components`` against a pure-Python union-find, plus the
resource and lineage contracts of the dedup pipeline: how often
``drop_near_duplicates`` and ``dedup_against_index`` evaluate their
input, and that ``connected_components`` / ``drop_near_duplicates``
release what they persist."""

import random
import re

import pytest
from pyspark.sql import functions as F

from unstructured_spark.operators.dedup import (
    connected_components,
    dedup_against_index,
    drop_near_duplicates,
    minhash_band_index,
    ngrams_from_tokens,
    shingles,
    shingles_from_tokens,
)
from unstructured_spark.operators.text_analysis import _features

# Spark's F.trim strips spaces only, and Java's \s is exactly this class
_WS = re.compile(r"[ \t\n\x0b\f\r]+")

TEXTS = [
    "",
    None,
    "one",
    "one two",
    "one two three",
    "one two three four five",
    "  lead and trail  ",
    "many   spaces\tand\ttabs\nand\n\nnewlines here",
    "\ttab led text ends in newline\n",
    "a b a b a b a b c",
    "x x x x x x",
    "   ",
    "\n",
    " ".join(f"w{i % 7}" for i in range(13)),
    " ".join(f"w{i % 9}" for i in range(40)),
]


def _ref_tokens(text):
    return None if text is None else _WS.split(text.strip(" "))


def _ref_ngrams(text, n, sep):
    toks = _ref_tokens(text) or []
    return [sep.join(toks[i:i + n]) for i in range(len(toks) - n + 1)]


def _ref_shingles(text, n):
    out = []
    for gram in _ref_ngrams(text, n, "_"):
        if gram not in out:
            out.append(gram)
    return out


def _ref_features(text):
    toks = _ref_tokens(text)
    return None if toks is None else toks + _ref_ngrams(text, 2, "_")


@pytest.mark.parametrize("n", [1, 2, 3, 5, 13, 15])
def test_shingles_match_python_reference(spark, n):
    df = spark.createDataFrame(list(enumerate(TEXTS)), "id int, text string")
    toks = F.split(F.trim(F.col("text")), "\\s+")
    rows = (
        df.select(
            "id",
            shingles(F.col("text"), n).alias("inline"),
            shingles_from_tokens(toks, n).alias("staged"),
            ngrams_from_tokens(toks, n, "_").alias("grams_"),
            ngrams_from_tokens(toks, n, " ").alias("grams_sp"),
            _features(toks).alias("features"),
        )
        .orderBy("id")
        .collect()
    )
    for r in rows:
        text = TEXTS[r["id"]]
        want = _ref_shingles(text, n)
        assert r["inline"] == want, (text, n)
        assert r["staged"] == want, (text, n)
        assert r["grams_"] == _ref_ngrams(text, n, "_"), (text, n)
        assert r["grams_sp"] == _ref_ngrams(text, n, " "), (text, n)
        assert r["features"] == _ref_features(text), text


def _corpus(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    return spark.createDataFrame(
        [
            (1, base),
            (2, base),
            (3, base + " today"),
            (4, "completely unrelated words about sailing boats at dawn"),
            (5, "short"),
        ],
        "doc_id int, text string",
    )


def _counted_text(spark, df):
    """``df`` with its text passed through a UDF that counts its calls."""
    calls = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def counted(t):
        calls.add(1)
        return t

    return df.withColumn("text", counted("text")), calls


def test_drop_near_duplicates_reads_input_once(spark):
    df = _corpus(spark)
    n_rows = df.count()
    counted, calls = _counted_text(spark, df)
    out = drop_near_duplicates(counted)
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [1, 4, 5]
    # one read into the checkpoint; the output probe reads the checkpoint
    assert calls.value == n_rows


def test_dedup_against_index_reads_batch_twice(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    history = spark.createDataFrame(
        [(100, base + " yesterday")], "doc_id int, text string"
    )
    new = spark.createDataFrame(
        [
            (1, base + " yesterday"),
            (2, "a tale of two cities told again in plain words"),
            (3, "a tale of two cities told again in plain words"),
            (4, "completely unrelated words about sailing boats at dawn"),
        ],
        "doc_id int, text string",
    )
    counted, calls = _counted_text(spark, new)
    out = dedup_against_index(counted, minhash_band_index(history))
    assert sorted(r["doc_id"] for r in out.collect()) == [2, 4]
    # once by the batch's band index, once by the survivor probe that
    # fills drop_near_duplicates' checkpoint, which the rest reads
    assert calls.value == 2 * new.count()


def _union_find_labels(edges):
    """node -> min id of its component, by union-find that always
    hangs the larger root under the smaller, so a root is its
    component's min id."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def _shuffled(rng, edges):
    """Edges in random order, each in a random orientation."""
    out = [(a, b) if rng.random() < 0.5 else (b, a) for a, b in edges]
    rng.shuffle(out)
    return out


def _path(rng, n):
    ids = list(range(n))
    rng.shuffle(ids)  # the min id sits anywhere along the path
    return _shuffled(rng, list(zip(ids, ids[1:])))


def _star(rng, n):
    center = n // 2  # neither the min nor the max id
    return _shuffled(rng, [(center, i) for i in range(n) if i != center])


def _cliques(rng, sizes):
    edges, start = [], 0
    for k in sizes:
        ids = rng.sample(range(start, start + 10), k)
        edges += [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]]
        start += 10
    return _shuffled(rng, edges)


@pytest.mark.parametrize(
    "graph",
    [
        lambda rng: _path(rng, 257),
        lambda rng: _star(rng, 41),
        lambda rng: _cliques(rng, [2, 3, 4, 5, 6, 3, 2]),
    ],
    ids=["path257", "star", "cliques"],
)
@pytest.mark.parametrize("string_ids", [False, True])
def test_connected_components_matches_union_find(spark, graph, string_ids):
    edges = graph(random.Random(7))
    if string_ids:
        edges = [(f"d{a:05d}", f"d{b:05d}") for a, b in edges]
        schema = "doc_a string, doc_b string"
    else:
        schema = "doc_a bigint, doc_b bigint"
    pairs = spark.createDataFrame(edges, schema)
    got = {r["doc"]: r["label"] for r in connected_components(pairs).collect()}
    assert got == _union_find_labels(edges)


def _persisted_rdd_count(spark):
    """Persistent RDDs other than local checkpoints. A local checkpoint
    is the lineage cut a returned frame reads from; the registry holds
    it weakly and the context cleaner drops it with that frame. Any
    other entry is storage the operator has to unpersist itself."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs().values()
    return sum(1 for r in rdds if not r.rdd().isLocallyCheckpointed())


def test_connected_components_releases_edges(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "doc_a int, doc_b int"
    )
    before = _persisted_rdd_count(spark)
    connected_components(pairs).collect()
    assert _persisted_rdd_count(spark) == before


def test_drop_near_duplicates_releases_persisted_frames(spark):
    df = _corpus(spark)
    before = _persisted_rdd_count(spark)
    drop_near_duplicates(df).collect()
    assert _persisted_rdd_count(spark) == before


def test_connected_components_raises_when_not_converged(spark):
    pairs = spark.createDataFrame(
        _path(random.Random(7), 257), "doc_a bigint, doc_b bigint"
    )
    before = _persisted_rdd_count(spark)
    with pytest.raises(RuntimeError, match="still changing after 2 rounds"):
        connected_components(pairs, max_iterations=2)
    assert _persisted_rdd_count(spark) == before
