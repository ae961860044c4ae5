"""Naive-Bayes corpus classifier (operators/classifier.py)."""

from pyspark.sql import functions as F

from unstructured_spark.operators.classifier import nb_classify, nb_score, nb_train


def _seed(spark):
    return spark.createDataFrame(
        [
            (1, "good clean prose about science and data", "keep"),
            (2, "more well formed sentences with structure", "keep"),
            (3, "buy cheap pills now click here casino", "spam"),
            (4, "casino bonus click free pills buy now", "spam"),
        ],
        "doc_id long, text string, label string",
    )


class TestNbClassifier:
    def test_separates_seed_like_docs(self, spark):
        corpus = spark.createDataFrame(
            [
                (10, "clean prose with data and science content"),
                (11, "click here for free casino pills"),
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r
            for r in nb_classify(corpus, _seed(spark), buckets=512).collect()
        }
        assert out[10]["predicted"] == "keep"
        assert out[11]["predicted"] == "spam"
        assert out[10]["margin_q"] > 0 and out[11]["margin_q"] > 0

    def test_training_docs_self_classify(self, spark):
        seed = _seed(spark)
        out = {r["doc_id"]: r["predicted"] for r in nb_classify(seed, seed, buckets=512).collect()}
        assert out == {1: "keep", 2: "keep", 3: "spam", 4: "spam"}

    def test_single_class_margin_zero(self, spark):
        seed = _seed(spark).filter(F.col("label") == "keep")
        corpus = spark.createDataFrame(
            [(10, "anything at all")], "doc_id long, text string"
        )
        row = nb_classify(corpus, seed, buckets=128).collect()[0]
        assert row["predicted"] == "keep"
        assert row["margin_q"] == 0

    def test_model_is_dense_and_reusable(self, spark):
        model = nb_train(_seed(spark), buckets=64)
        rows = model.count()
        assert rows == 2 * 64  # classes x buckets, zero-filled
        corpus = spark.createDataFrame(
            [(10, "science data prose")], "doc_id long, text string"
        )
        a = nb_score(corpus, model, buckets=64).collect()
        b = nb_score(corpus, model, buckets=64).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]

    def test_seed_in_corpus_bit_identical(self, spark):
        # the fused single-tokenize-pass path (seed rows ARE corpus
        # rows) must produce BIT-identical (predicted, score_q,
        # margin_q) to the general two-pass form
        corpus = spark.createDataFrame(
            [
                (1, "good clean prose about science and data", "keep"),
                (2, "more well formed sentences with structure", "keep"),
                (3, "buy cheap pills now click here casino", "spam"),
                (4, "casino bonus click free pills buy now", "spam"),
                (10, "clean prose with data and science content", None),
                (11, "click here for free casino pills", None),
                (12, "data data data click click", None),
            ],
            "doc_id long, text string, label string",
        )
        seed = corpus.filter(F.col("label").isNotNull())
        two_pass = sorted(
            tuple(r)
            for r in nb_classify(corpus, seed, buckets=256, max_tokens=16)
            .collect()
        )
        fused = sorted(
            tuple(r)
            for r in nb_classify(
                corpus, seed, buckets=256, max_tokens=16, seed_in_corpus=True
            ).collect()
        )
        assert fused == two_pass

    def test_empty_text_docs_dropped(self, spark):
        corpus = spark.createDataFrame(
            [(10, "science data"), (11, "   ")], "doc_id long, text string"
        )
        out = nb_classify(corpus, _seed(spark), buckets=128).collect()
        assert [r["doc_id"] for r in out] == [10]

    def test_nb_score_pins_tricky_corpus(self, spark):
        # exact BIGINT scores over tricky inputs: a unicode NBSP (Java
        # \s is ASCII-only, so it stays inside a token), leading and
        # inner tabs, a multi-space run, a trailing space, a repeated
        # token, and empty text (no features: dropped)
        corpus = spark.createDataFrame(
            [
                (10, "clean prose with data and science content"),
                (11, "click here for free casino\u00a0pills"),
                (12, "\tdata  science\tprose "),
                (13, ""),
                (14, "casino casino casino data"),
            ],
            "doc_id long, text string",
        )
        model = nb_train(_seed(spark), buckets=256)
        scored = nb_score(corpus, model, buckets=256)
        assert scored.columns == ["doc_id", "predicted", "score_q", "margin_q"]
        assert sorted(tuple(r) for r in scored.collect()) == [
            (10, "keep", -146888385264, 6770581872),
            (11, "spam", -103706832196, 6687256828),
            (12, "keep", -57526048188, 3053467692),
            (14, "spam", -79222088720, 1016674296),
        ]

    def test_deterministic_tie_breaks_to_smaller_label(self, spark):
        # identical class evidence: two single-doc classes with the SAME
        # text -> every score ties -> predicted must be the smaller label
        seed = spark.createDataFrame(
            [(1, "alpha beta gamma", "b_cls"), (2, "alpha beta gamma", "a_cls")],
            "doc_id long, text string, label string",
        )
        corpus = spark.createDataFrame(
            [(10, "alpha beta")], "doc_id long, text string"
        )
        row = nb_classify(corpus, seed, buckets=128).collect()[0]
        assert row["predicted"] == "a_cls"
        assert row["margin_q"] == 0
