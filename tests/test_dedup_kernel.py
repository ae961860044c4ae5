"""N-gram window kernel and shingles against a pure-Python reference,
plus the resource and lineage contracts of the dedup pipeline: how
often ``drop_near_duplicates`` evaluates its input, and that
``connected_components`` / ``drop_near_duplicates`` release what they
persist."""

import re

import pytest
from pyspark.sql import functions as F

from unstructured_spark.operators.dedup import (
    connected_components,
    drop_near_duplicates,
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


def test_drop_near_duplicates_reads_input_twice(spark):
    df = _corpus(spark)
    n_rows = df.count()
    calls = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def counted(t):
        calls.add(1)
        return t

    out = drop_near_duplicates(df.withColumn("text", counted("text")))
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [1, 4, 5]
    # one read into the narrow checkpoint, one by the output probe
    assert calls.value == 2 * n_rows


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
