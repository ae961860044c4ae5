"""Deterministic Naive-Bayes corpus classifier (train + score in-engine).

The production pattern behind CCNet's fastText language/quality gates and
the GPT-3 WebText quality filter: fit a cheap linear classifier on a
labeled seed set, score every document, filter/route on the prediction
and its margin. A multinomial Naive Bayes over hashed unigram+bigram
buckets is the deterministic member of that family — training is ONE
count aggregation, scoring is a broadcast join + sum, and with the
fixed-point integer log (``text_analysis.fxln_steps``) every score is an
exact BIGINT, so Spark and the DuckDB oracle agree bit-for-bit (no libm,
same discipline that closed the r5-r7 perplexity driver-red).

Model:  lq(c, b)  = fxln(count_c(b) + 1) − fxln(n_c + B)    (log-likelihood)
        prior(c)  = fxln(docs_c)         − fxln(docs_total)
        score(d, c) = prior(c) + Σ_b c_d(b) · lq(c, b)      (all in 2^-31 units)
        predict(d)  = argmax_c score (ties → smaller label)

Scale shape: the dense model is |classes| × ``buckets`` rows (tiny — it
broadcasts), training shuffles once on (label, bucket) with map-side
combine, scoring shuffles the corpus only on doc-keyed aggregates
(features → (doc, bucket) counts → (doc, class) sums → per-doc argmax).
No collects beyond the class/total scalars; no Python rows anywhere.

Reference scope note: the reference has no classifier trainer — this is
beyond-reference LLM-pipeline surface (BASELINE.json north star), kept
engine-portable for the oracle the same way dedup/DSIR are.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from unstructured_spark.operators.storage import spread
from unstructured_spark.operators.text_analysis import _bucket, _features, fxln_steps


def _doc_buckets(
    df: DataFrame,
    text: str,
    doc_id: str,
    buckets: int,
    max_tokens: int | None = None,
) -> DataFrame:
    toks = F.filter(F.split(F.trim(F.col(text)), "\\s+"), lambda x: x != F.lit(""))
    if max_tokens is not None:
        # bounded-cost mode (the fastText-style knob): classify on the
        # document head — feature volume, and with it the md5 hash +
        # explode + count cost, becomes O(docs), not O(corpus tokens)
        toks = F.slice(toks, 1, int(max_tokens))
    # spread: the md5-per-feature fan-out is the dominant map-side cost
    return (
        spread(df).select(F.col(doc_id).alias("doc_id"), toks.alias("_t"))
        .select("doc_id", F.explode(_features(F.col("_t"))).alias("g"))
        .select("doc_id", _bucket(F.col("g"), buckets).alias("b"))
    )


def nb_train(
    labeled: DataFrame,
    *,
    label: str = "label",
    text: str = "text",
    doc_id: str = "doc_id",
    buckets: int = 4096,
    max_tokens: int | None = None,
) -> DataFrame:
    """Fit the model. Returns a DENSE (cls, b, lq, prior_q) DataFrame —
    one row per class × bucket (absent buckets carry the smoothed
    floor), with the class's quantized log-prior repeated per row.
    |classes| × ``buckets`` rows: collect-free here, broadcast by
    ``nb_score``.
    """
    feats = _doc_buckets(
        labeled, text, doc_id, buckets, max_tokens
    ).join(
        labeled.select(
            F.col(doc_id).alias("doc_id"), F.col(label).alias("cls")
        ),
        "doc_id",
    )
    counts = feats.groupBy("cls", "b").agg(F.count("*").alias("cnt"))
    totals = counts.groupBy("cls").agg(F.sum("cnt").alias("n_c"))
    doc_counts = labeled.groupBy(F.col(label).alias("cls")).agg(
        F.count("*").alias("docs_c")
    )
    # docs_total as a LAZY one-row aggregate riding the class counts —
    # a driver-side labeled.count() here would fire an extra Spark job
    # per training call
    dtot = doc_counts.agg(F.sum("docs_c").alias("nd"))
    # dense grid: every (class, bucket) cell, zero-filled — unseen
    # buckets must score the smoothed floor, not drop out of the sum
    grid = (
        totals.select("cls", "n_c")
        .join(doc_counts, "cls")
        .crossJoin(F.broadcast(dtot))
        .crossJoin(
            F.broadcast(
                labeled.sparkSession.range(int(buckets)).select(
                    F.col("id").cast("bigint").alias("b")
                )
            )
        )
        .join(counts, ["cls", "b"], "left")
        .fillna({"cnt": 0})
    )
    # all four fixed-point logs in ONE lateral-alias select — stacking
    # four with_fxln projections quadrupled analyzer work for no gain
    sel = [F.col(c) for c in grid.columns]
    for m, p in (
        ("(cnt + 1)", "_p"),
        (f"(n_c + {int(buckets)})", "_q"),
        ("docs_c", "_r"),
        ("nd", "_s"),
    ):
        sel += [F.expr(e).alias(n) for n, e in fxln_steps(m, p, "div")]
    g = grid.select(*sel)
    return g.select(
        "cls",
        "b",
        (F.col("_pln") - F.col("_qln")).alias("lq"),
        (F.col("_rln") - F.col("_sln")).alias("prior_q"),
    )


def nb_score(
    corpus: DataFrame,
    model: DataFrame,
    *,
    text: str = "text",
    doc_id: str = "doc_id",
    buckets: int = 4096,
    max_tokens: int | None = None,
) -> DataFrame:
    """Score every document against the trained model.

    Returns (doc_id, predicted, score_q, margin_q): the argmax class
    (integer-score ties break to the smaller label), its exact score in
    2^-31 log units (BIGINT — hash-stable), and the margin over the
    runner-up (0 when there is only one class) — the confidence value a
    quality gate thresholds on.
    """
    dm = _doc_buckets(corpus, text, doc_id, buckets, max_tokens).groupBy(
        "doc_id", "b"
    ).agg(
        F.count("*").alias("cd")
    )
    per_class = (
        dm.join(F.broadcast(model), "b")
        .groupBy("doc_id", "cls")
        .agg(
            (F.first("prior_q") + F.sum(F.col("cd") * F.col("lq"))).alias(
                "score_q"
            )
        )
    )
    return per_class.groupBy("doc_id").agg(
        F.min_by(
            "cls", F.struct((-F.col("score_q")).alias("ns"), F.col("cls").alias("c"))
        ).alias("predicted"),
        F.max("score_q").alias("score_q"),
        F.when(F.count("*") < 2, F.lit(0))
        .otherwise(
            F.max("score_q")
            - F.sort_array(F.collect_list("score_q"), asc=False).getItem(1)
        )
        .cast("bigint")
        .alias("margin_q"),
    )


def nb_classify(
    corpus: DataFrame,
    labeled: DataFrame,
    *,
    label: str = "label",
    text: str = "text",
    doc_id: str = "doc_id",
    buckets: int = 4096,
    max_tokens: int | None = None,
    seed_in_corpus: bool = False,
) -> DataFrame:
    """One-call train-on-seed + score-corpus (the CCNet gate shape).

    With ``seed_in_corpus=False`` (the general form — seed documents
    may be disjoint from the corpus) this is ``nb_train`` +
    ``nb_score``: the seed text is tokenized for training and the
    corpus text for scoring, two independent feature passes.

    With ``seed_in_corpus=True`` the caller asserts the seed rows ARE
    corpus rows (same ``doc_id``, same ``text`` — the usual gate setup:
    label a slice of the corpus, classify the rest). Then only
    ``labeled``'s (doc_id, label) pairs are read and the per-document
    bucket counts are computed ONCE over the corpus and shared by both
    train and score: training counts come from a broadcast semi-join of
    the label pairs against the shared counts instead of a second
    corpus-scale tokenize+explode. The label-pair broadcast assumes
    seed sets are labeling-budget-bounded (id + label only — far under
    the broadcast ceiling for any human/model-labeled seed). Scores are
    bit-identical to the two-pass form by construction.

    The model feeds exactly ONE consumer (the scoring broadcast join),
    so it is deliberately NOT checkpointed: a lineage cut there would
    route the training aggregation through the RDD path, which opts the
    whole train plan out of AQE (no runtime broadcast conversion, no
    partition coalescing) and measured ~4× slower than letting the
    scoring query embed the train plan directly. Callers reusing one
    model across MANY scoring passes should ``nb_train(...).persist()``
    themselves."""
    if not seed_in_corpus:
        model = nb_train(
            labeled, label=label, text=text, doc_id=doc_id, buckets=buckets,
            max_tokens=max_tokens,
        )
        return nb_score(
            corpus, model, text=text, doc_id=doc_id, buckets=buckets,
            max_tokens=max_tokens,
        )
    spark = corpus.sparkSession
    # ONE tokenize+hash pass over the corpus. The (doc_id, b) groupBy
    # keeps map-side combine on the exploded feature stream (the one
    # corpus-scale shuffle); the lazy checkpoint lets train and score
    # both consume the REDUCED table instead of re-tokenizing. (An
    # upfront repartition(doc_id) to pre-satisfy the downstream
    # aggregations doesn't help: the checkpoint's RDD scan reports
    # unknown partitioning, so downstream re-shuffles regardless — and
    # the repartition would forfeit map-side combine.)
    dm = (
        _doc_buckets(corpus, text, doc_id, buckets, max_tokens)
        .groupBy("doc_id", "b")
        .agg(F.count("*").alias("cd"))
        .localCheckpoint(eager=False)
    )
    labels = labeled.select(
        F.col(doc_id).alias("doc_id"), F.col(label).alias("cls")
    )
    # training counts from the SHARED counts: Σ_docs cd per (cls, b).
    # Every aggregate below feeds exactly ONE consumer (n_c, nd, and
    # the dense fill all ride windows over the grid instead of
    # separate groupBy branches), so no tiny subtree is planned twice
    # — that duplication is where the old 10-exchange census came from.
    counts = (
        dm.join(F.broadcast(labels), "doc_id")
        .groupBy("cls", "b")
        .agg(F.sum("cd").cast("bigint").alias("cnt"))
    )
    # nd as a window over the per-class doc counts: |classes| rows
    # through a single-partition exchange — bounded by construction
    doc_counts = (
        labels.groupBy("cls")
        .agg(F.count("*").alias("docs_c"))
        .withColumn(
            "nd",
            F.sum("docs_c").over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
    )
    # dense |classes| × buckets grid in ONE broadcast nested-loop
    # build; n_c then falls out of a per-class window over the COMPLETE
    # grid (every (cls, b) cell present exactly once, absent cells 0),
    # which equals the former separate totals aggregation
    grid = (
        doc_counts.crossJoin(
            F.broadcast(
                spark.range(int(buckets)).select(
                    F.col("id").cast("bigint").alias("b")
                )
            )
        )
        .join(F.broadcast(counts), ["cls", "b"], "left")
        .fillna({"cnt": 0})
        .withColumn(
            "n_c", F.sum("cnt").over(Window.partitionBy("cls"))
        )
        # nb_train builds its grid from `totals` (classes with >=1
        # feature), so a class whose seed docs are all empty can never
        # be predicted there; drop the same classes here (n_c == 0)
        # AFTER the nd window so the prior denominator still counts
        # every labeled doc — bit-identical to the two-pass form
        .filter(F.col("n_c") > 0)
    )
    sel = [F.col(c) for c in grid.columns]
    for mexpr, p in (
        ("(cnt + 1)", "_p"),
        (f"(n_c + {int(buckets)})", "_q"),
        ("docs_c", "_r"),
        ("nd", "_s"),
    ):
        sel += [F.expr(e).alias(n) for n, e in fxln_steps(mexpr, p, "div")]
    model = grid.select(*sel).select(
        "cls",
        "b",
        (F.col("_pln") - F.col("_qln")).alias("lq"),
        (F.col("_rln") - F.col("_sln")).alias("prior_q"),
    )
    per_class = (
        dm.join(F.broadcast(model), "b")
        .groupBy("doc_id", "cls")
        .agg(
            (F.first("prior_q") + F.sum(F.col("cd") * F.col("lq"))).alias(
                "score_q"
            )
        )
    )
    return per_class.groupBy("doc_id").agg(
        F.min_by(
            "cls", F.struct((-F.col("score_q")).alias("ns"), F.col("cls").alias("c"))
        ).alias("predicted"),
        F.max("score_q").alias("score_q"),
        F.when(F.count("*") < 2, F.lit(0))
        .otherwise(
            F.max("score_q")
            - F.sort_array(F.collect_list("score_q"), asc=False).getItem(1)
        )
        .cast("bigint")
        .alias("margin_q"),
    )

