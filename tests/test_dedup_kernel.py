"""Shingle kernel against a pure-Python reference, plus the resource
and lineage contracts of the dedup pipeline: how often
``drop_near_duplicates`` evaluates its input, and that
``connected_components`` / ``drop_near_duplicates`` release what they
persist."""

import re

import pytest
from pyspark.sql import functions as F

from unstructured_spark.operators.dedup import (
    connected_components,
    drop_near_duplicates,
    shingles,
    shingles_from_tokens,
)

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
]


def _ref_shingles(text, n):
    if text is None:
        return []
    toks = _WS.split(text.strip(" "))
    out = []
    for i in range(len(toks) - n + 1):
        gram = "_".join(toks[i:i + n])
        if gram not in out:
            out.append(gram)
    return out


@pytest.mark.parametrize("n", [1, 2, 3, 5])
def test_shingles_match_python_reference(spark, n):
    df = spark.createDataFrame(list(enumerate(TEXTS)), "id int, text string")
    rows = (
        df.select(
            "id",
            shingles(F.col("text"), n).alias("inline"),
            shingles_from_tokens(
                F.split(F.trim(F.col("text")), "\\s+"), n
            ).alias("staged"),
        )
        .orderBy("id")
        .collect()
    )
    for r in rows:
        want = _ref_shingles(TEXTS[r["id"]], n)
        assert r["inline"] == want, (TEXTS[r["id"]], n)
        assert r["staged"] == want, (TEXTS[r["id"]], n)


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
