"""End-to-end corpus pipelines (unstructured_spark/pipelines.py) +
streaming compatibility of the quality gate."""

import pytest
from pyspark.sql import functions as F

# long-running suite: deselected from the default fast tier (pytest.ini);
# runs in the round-end full pass with -m "slow or not slow"
pytestmark = pytest.mark.slow


def _docs(spark):
    body = (
        "Quality Section\n\n"
        "This is a long narrative paragraph that talks about storage engines and "
        "query planners in enough words to pass the chunk-level quality gate easily.\n\n"
        "Another Section\n\n"
        "A second narrative paragraph with plenty of ordinary words describing "
        "distributed shuffles and broadcast joins for the test corpus."
    )
    junk = "x " * 12  # passes word count but fails mean word length
    rows = [
        ("d1", body.encode(), "d1.txt"),
        ("d2", body.encode(), "d2.txt"),  # near/exact dup of d1 at chunk level
        ("d3", junk.encode(), "d3.txt"),
    ]
    return spark.createDataFrame(rows, "doc_id string, content binary, path string")


class TestTrainingDataPipeline:
    def test_full_chain(self, spark):
        from unstructured_spark.pipelines import training_data_pipeline

        out = training_data_pipeline(
            _docs(spark),
            chunk_kwargs={"max_characters": 400},
        ).cache()
        rows = out.collect()
        assert rows, "pipeline produced no chunks"
        # embeddings present and fixed-dim
        dims = {len(r["embeddings"]) for r in rows}
        assert len(dims) == 1
        # d3's junk chunk was quality-filtered
        assert not [r for r in rows if r["doc_id"] == "d3"]
        # duplicate chunks across d1/d2 deduplicated: every text unique
        texts = [r["text"] for r in rows]
        assert len(texts) == len(set(texts))

    def test_rows_equal_partition_chunk_embed(self, spark):
        # the pipeline folds chunks inside the parse UDF; its rows must
        # equal the exchange composition partition → chunk → embed in
        # every column
        from unstructured_spark.operators.chunking import chunk
        from unstructured_spark.operators.embed import HashingEncoder, embed_elements
        from unstructured_spark.operators.partition_auto import partition_documents
        from unstructured_spark.pipelines import training_data_pipeline

        kw = {"max_characters": 120, "overlap": 20}
        docs = _docs(spark)
        got = training_data_pipeline(
            docs, chunk_kwargs=kw, quality_filter=False, near_dedup=False
        )
        want = embed_elements(
            chunk(partition_documents(docs), strategy="by_title", **kw), HashingEncoder
        )
        assert got.columns == want.columns
        got_rows = sorted(map(repr, got.collect()))
        assert len(got_rows) > 3
        assert got_rows == sorted(map(repr, want.collect()))

    def test_stages_optional(self, spark):
        from unstructured_spark.pipelines import training_data_pipeline

        out = training_data_pipeline(
            _docs(spark),
            quality_filter=False,
            near_dedup=False,
            embed=False,
        )
        rows = out.collect()
        # without dedup, d1 and d2 chunks both survive
        assert [r for r in rows if r["doc_id"] == "d1"]
        assert [r for r in rows if r["doc_id"] == "d2"]
        assert [r for r in rows if r["doc_id"] == "d3"]


class TestRagIngest:
    def test_exact_dup_suppression_and_embeddings(self, spark):
        from unstructured_spark.pipelines import rag_ingest_pipeline

        rows = rag_ingest_pipeline(_docs(spark)).collect()
        texts = [r["text"] for r in rows]
        assert len(texts) == len(set(texts))  # exact dups suppressed
        assert all(r["embeddings"] is not None for r in rows)


class TestStreamingQualityGate:
    def test_gopher_stats_work_on_streams(self, spark, tmp_path):
        """The quality gate is stateless column math — verify it runs
        inside a Structured Streaming microbatch unchanged."""
        from unstructured_spark.operators.quality_filters import (
            gopher_keep_expr,
            gopher_stats_exprs,
            line_repetition_exprs,
        )

        src = tmp_path / "in"
        spark.createDataFrame(
            [("s1", "the cat and the dog " * 20), ("s2", "zz " * 60)],
            "doc_id string, text string",
        ).coalesce(1).write.json(str(src))
        stream = spark.readStream.schema("doc_id string, text string").json(str(src))
        stats = {**gopher_stats_exprs(), **line_repetition_exprs()}
        gated = stream.select(
            "doc_id", *[c.alias(n) for n, c in stats.items()]
        ).withColumn("keep", gopher_keep_expr())
        q = (
            gated.writeStream.format("memory")
            .queryName("quality_stream")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        out = {r["doc_id"]: r["keep"] for r in spark.sql("select * from quality_stream").collect()}
        assert out == {"s1": True, "s2": False}


class TestPrepareTrainingCorpus:
    def test_full_chain(self, spark):
        from unstructured_spark.pipelines import prepare_training_corpus

        good = (
            "the quick brown fox jumps over the lazy dog and then "
            "continues running through the quiet forest for a while longer. "
        ) * 3
        rows = [
            (1, good + " contact me at a@b.co", "web"),
            (2, good + " another good doc with different tail words here", "web"),
            (3, "zz " * 80, "web"),  # fails quality (no stopwords)
            (4, good + " contact me at a@b.co", "books"),  # near-dup of 1
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
        bench = spark.createDataFrame(
            [(99, "totally unrelated benchmark text that matches nothing")],
            "doc_id long, text string",
        )
        out = prepare_training_corpus(
            docs,
            decontaminate_against=bench,
            sample_fractions={"web": 1.0, "books": 1.0},
        )
        got = {r["doc_id"]: r["text"] for r in out.collect()}
        assert 3 not in got  # quality-dropped
        # near-dup keeps exactly one of {1, 4}
        assert len({1, 4} & set(got)) == 1
        # PII was redacted before anything else
        kept = got[min(got)]
        assert "[EMAIL]" in kept and "a@b.co" not in kept

    def test_packing_output_shape(self, spark):
        from unstructured_spark.pipelines import prepare_training_corpus

        docs = spark.createDataFrame(
            [(i, "the quick brown fox jumps over the lazy dog again " * 4, "s")
             for i in range(4)],
            "doc_id long, text string, source string",
        )
        out = prepare_training_corpus(
            docs, quality_filter=False, near_dedup=False, pack_tokens=16
        )
        rows = out.collect()
        assert {"doc_id", "seq_id", "doc_token_start", "doc_token_end",
                "seq_token_start"} <= set(rows[0].asDict())
        total = sum(r["doc_token_end"] - r["doc_token_start"] for r in rows)
        assert total == 4 * 40


class TestPretrainingCorpusE2E:
    def test_single_job_chain(self, spark):
        from unstructured_spark.pipelines import pretraining_corpus_e2e

        body = (
            "Introduction\n\n"
            + ("the quick brown fox jumps over the lazy dog and keeps "
               "running through the quiet forest for quite a while. ") * 4
            + "\n\nDetails\n\n"
            + ("every good sentence in this section carries enough real "
               "words and stopwords to clear the gopher thresholds. ") * 4
        )
        rows = [
            (1, (body + " contact me at a@b.co").encode(), "d1.txt"),
            # near/exact dup of doc 1 at chunk level -> deduped
            (2, (body + " contact me at a@b.co").encode(), "d2.txt"),
            (3, ("Junk\n\n" + "zz " * 80).encode(), "d3.txt"),
        ]
        docs = spark.createDataFrame(
            rows, "doc_id long, content binary, path string"
        )
        seen = spark.sparkContext.accumulator(0)

        def count_row(content):
            seen.add(1)
            return content

        docs = docs.withColumn("content", F.udf(count_row, "binary")("content"))
        packed, splits = pretraining_corpus_e2e(docs, pack_tokens=64)
        srows = splits.collect()
        assert srows, "no chunks survived the chain"
        # doc 3's junk failed the quality gate
        assert not [r for r in srows if r["doc_id"] == "3"]
        # chunk-level near-dedup: every surviving text unique
        texts = [r["text"] for r in srows]
        assert len(texts) == len(set(texts))
        # PII redacted before the split
        assert all("a@b.co" not in t for t in texts)
        assert any("[EMAIL]" in t for t in texts)
        # split column present and valid
        assert {r["split"] for r in srows} <= {"train", "validation", "test"}
        # packing placements reference the train split only and tile
        # sequences contiguously from offset 0
        prows = packed.collect()
        if [r for r in srows if r["split"] == "train"]:
            assert prows
            seq0 = [r for r in prows if r["seq_id"] == min(p["seq_id"] for p in prows)]
            assert any(r["seq_token_start"] == 0 for r in seq0)
        # the partition/chunk/hygiene tree ran once per document, over
        # the build and both actions
        assert seen.value == len(rows)

    def test_classifier_gate_filters_predicted_class(self, spark):
        from unstructured_spark.pipelines import pretraining_corpus_e2e

        good = (
            "Heading\n\n"
            + ("a perfectly ordinary sentence with the usual english "
               "stopwords in it keeps the quality gate happy. ") * 5
        )
        spammy = (
            "Promo\n\n"
            + ("casino bonus click the free pills offer and buy the "
               "casino bonus again with one more free offer today. ") * 5
        )
        docs = spark.createDataFrame(
            [(7, good.encode(), "a.txt"), (8, spammy.encode(), "b.txt")],
            "doc_id long, content binary, path string",
        )
        seed = spark.createDataFrame(
            [
                (1, "ordinary english sentence with stopwords and prose", "keep"),
                (2, "plain sentences keep the usual words happy", "keep"),
                (3, "casino bonus click free pills offer buy today", "drop"),
                (4, "free casino offer bonus pills click buy", "drop"),
            ],
            "doc_id long, text string, label string",
        )
        _, splits = pretraining_corpus_e2e(
            docs, pack_tokens=None, classifier_seed=seed,
            classifier_kwargs={"buckets": 512},
        )
        srows = splits.collect()
        assert srows
        kept_docs = {r["doc_id"] for r in srows}
        assert "7" in kept_docs and "8" not in kept_docs

    def test_unpacked_returns_train_rows(self, spark):
        from unstructured_spark.pipelines import pretraining_corpus_e2e

        body = (
            "Heading\n\n"
            + ("a perfectly ordinary sentence with the usual english "
               "stopwords in it keeps the quality gate happy. ") * 5
        )
        docs = spark.createDataFrame(
            [(7, body.encode(), "a.txt")],
            "doc_id long, content binary, path string",
        )
        train, splits = pretraining_corpus_e2e(docs, pack_tokens=None)
        trows = train.collect()
        assert all(r["split"] == "train" for r in trows)
        assert {r["element_id"] for r in trows} <= {
            r["element_id"] for r in splits.collect()
        }


class TestBoilerplateStage:
    def test_opt_in_boilerplate_removal_runs_first(self, spark):
        from unstructured_spark.pipelines import prepare_training_corpus

        banner = "subscribe to our newsletter today"
        good = ("the quick brown fox jumps over the lazy dog and then "
                "continues running through the quiet forest for a while. ") * 3
        rows = [
            (1, f"{banner}\n{good}", "web"),
            (2, f"{banner}\nanother {good}", "web"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
        out = prepare_training_corpus(
            docs, boilerplate_lines=True, near_dedup=False, redact=False
        )
        texts = {r["doc_id"]: r["text"] for r in out.collect()}
        assert all(banner not in t for t in texts.values())
        assert len(texts) == 2


class TestBudgetAndShuffleStages:
    def test_token_budget_keeps_best_within_cap(self, spark):
        from unstructured_spark.pipelines import prepare_training_corpus

        good = ("the quick brown fox jumps over the lazy dog and then "
                "walks on through the forest looking for more of it. ")
        rows = [
            # web: two high-quality docs (~20 tokens each) + one junk
            (1, good, "web"),
            (2, good + "with a slightly different healthy ending here", "web"),
            (3, "zz qq ww " * 7, "web"),   # low quality, 21 tokens
            (4, good, "books"),
        ]
        docs = spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        )
        out = prepare_training_corpus(
            docs,
            redact=False,
            quality_filter=False,
            near_dedup=False,
            token_budget=50,
        )
        kept = sorted(r["doc_id"] for r in out.collect())
        # web: best-first fill (docs 1+2 ~ 41 tokens; junk would
        # exceed 50); books: doc 4 fits
        assert kept == [1, 2, 4]
        assert set(out.columns) == {"doc_id", "text", "source"}

    def test_epoch_shuffle_appends_rank(self, spark):
        from unstructured_spark.pipelines import prepare_training_corpus

        docs = spark.createDataFrame(
            [(i, f"document body number {i} with the usual words", "w")
             for i in range(20)],
            "doc_id long, text string, source string",
        )
        out = prepare_training_corpus(
            docs,
            redact=False,
            quality_filter=False,
            near_dedup=False,
            epoch_shuffle_seed="ep1",
        )
        rows = out.collect()
        assert sorted(r["shuffle_rank"] for r in rows) == list(range(20))
        again = {
            r["doc_id"]: r["shuffle_rank"]
            for r in prepare_training_corpus(
                docs,
                redact=False,
                quality_filter=False,
                near_dedup=False,
                epoch_shuffle_seed="ep1",
            ).collect()
        }
        assert again == {r["doc_id"]: r["shuffle_rank"] for r in rows}


class TestFilterAttribution:
    def test_each_gate_attributed_in_order(self, spark):
        from unstructured_spark.pipelines import filter_attribution

        good = (
            "the quick brown fox jumps over the lazy dog and then it "
            "runs on to the next field with a friend of the family. "
            "it was a good day to be out in the sun with all of that."
        )
        docs = spark.createDataFrame(
            [
                (1, good),                              # keep
                (2, "short"),                           # gopher (word count)
                (3, good + " {code}"),                  # c4 (brace)
                (4, good + " mail me a@b.com"),         # pii
                (5, good),                              # exact dup of 1
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r
            for r in filter_attribution(
                docs, gopher_kwargs={"min_words": 10, "min_stopwords": 1},
                c4_min_sentences=1,
            ).collect()
        }
        assert out[1]["verdict"] == "keep"
        assert out[2]["verdict"] == "gopher" and not out[2]["gopher_keep"]
        assert out[3]["verdict"] == "c4" and not out[3]["c4_keep"]
        assert out[4]["verdict"] == "pii" and out[4]["pii_total"] >= 1
        assert out[5]["verdict"] == "exact_dup" and out[5]["is_exact_dup"]
        # first-gate-wins: a doc failing gopher AND containing a brace
        # is attributed to gopher, the earlier gate
        both = spark.createDataFrame(
            [(9, "x {y}")], "doc_id long, text string"
        )
        v = filter_attribution(both).collect()[0]
        assert v["verdict"] == "gopher" and not v["c4_keep"]

    def test_pii_max_threshold(self, spark):
        from unstructured_spark.pipelines import filter_attribution

        good = (
            "the quick brown fox jumps over the lazy dog and then it "
            "runs on to the next field with a friend of the family. "
            "it was a good day to be out in the sun with all of that."
        )
        docs = spark.createDataFrame(
            [(1, good + " mail a@b.com")], "doc_id long, text string"
        )
        kw = dict(
            gopher_kwargs={"min_words": 10, "min_stopwords": 1},
            c4_min_sentences=1,
        )
        assert (
            filter_attribution(docs, pii_max=0, **kw).collect()[0]["verdict"]
            == "pii"
        )
        assert (
            filter_attribution(docs, pii_max=1, **kw).collect()[0]["verdict"]
            == "keep"
        )


class TestAttributionStream:
    GOOD = (
        "the quick brown fox jumps over the lazy dog and then it "
        "runs on to the next field with a friend of the family. "
        "it was a good day to be out in the sun with all of that."
    )

    def test_streaming_verdicts_match_batch_gates(self, spark, tmp_path):
        from unstructured_spark.operators.dedup import bloom_fingerprint_index
        from unstructured_spark.streaming.pipeline import attribution_stream

        src = tmp_path / "src"
        src.mkdir()
        spark.createDataFrame(
            [
                (1, self.GOOD),                       # keep
                (2, "short"),                         # gopher
                (3, self.GOOD + " {code}"),           # c4
                (4, self.GOOD + " mail me a@b.com"),  # pii
                (5, "seen before in history it was"),  # maybe_dup
            ],
            "doc_id long, text string",
        ).write.parquet(str(src), mode="overwrite")
        hist = spark.createDataFrame(
            [(0, "seen before in history it was")], "doc_id long, text string"
        )
        bloom = bloom_fingerprint_index(hist, m_bits=1 << 14, k=4)
        stream = spark.readStream.schema("doc_id long, text string").parquet(
            str(src)
        )
        out_df = attribution_stream(
            stream,
            bloom=bloom,
            gopher_kwargs={"min_words": 5, "min_stopwords": 1},
            c4_min_sentences=1,
            m_bits=1 << 14,
            k=4,
        )
        assert out_df.isStreaming
        q = (
            out_df.writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        out = {
            r["doc_id"]: r
            for r in spark.read.parquet(str(tmp_path / "out")).collect()
        }
        assert out[1]["verdict"] == "keep"
        assert out[2]["verdict"] == "gopher"
        assert out[3]["verdict"] == "c4"
        assert out[4]["verdict"] == "pii"
        assert out[5]["verdict"] == "maybe_dup" and out[5]["maybe_dup"]
        # a definitive-new doc (Bloom false) can never be flagged
        assert not out[1]["maybe_dup"]

    def test_without_bloom_dup_gate_skipped(self, spark, tmp_path):
        from unstructured_spark.streaming.pipeline import attribution_stream

        src = tmp_path / "src2"
        src.mkdir()
        spark.createDataFrame(
            [(1, self.GOOD), (2, self.GOOD)], "doc_id long, text string"
        ).write.parquet(str(src), mode="overwrite")
        stream = spark.readStream.schema("doc_id long, text string").parquet(
            str(src)
        )
        out_df = attribution_stream(
            stream,
            gopher_kwargs={"min_words": 5, "min_stopwords": 1},
            c4_min_sentences=1,
        )
        q = (
            out_df.writeStream.format("parquet")
            .option("path", str(tmp_path / "out2"))
            .option("checkpointLocation", str(tmp_path / "ckpt2"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.read.parquet(str(tmp_path / "out2")).collect()
        assert all(r["verdict"] == "keep" and not r["maybe_dup"] for r in rows)
