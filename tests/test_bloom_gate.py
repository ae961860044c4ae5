"""Bloom-filter incremental dedup gate: one map-only probe for a batch
and a stream (operators/dedup.bloom_probe_new), the filter's exact
merge, and the exact fingerprint index it fronts."""

from pyspark.sql import functions as F


class TestBloomDedupGate:
    def test_no_false_negatives_and_mostly_true_negatives(self, spark):
        from unstructured_spark.operators.dedup import (
            bloom_fingerprint_index,
            bloom_probe_new,
        )

        hist = spark.createDataFrame(
            [(i, f"history document number {i} body") for i in range(200)],
            "doc_id long, text string",
        )
        bloom = bloom_fingerprint_index(hist, m_bits=1 << 14, k=4)
        # every history doc re-probed MUST hit (Bloom one-sided error)
        self_probe = bloom_probe_new(hist, bloom, m_bits=1 << 14, k=4)
        assert all(r["maybe_seen"] for r in self_probe.collect())
        # genuinely new docs: overwhelmingly maybe_seen=false at
        # 16384 bits / 800 set-bits (FP rate ~ (800/16384)^4 ~ 6e-6)
        fresh = spark.createDataFrame(
            [(1000 + i, f"fresh unseen text {i} zzz") for i in range(200)],
            "doc_id long, text string",
        )
        out = bloom_probe_new(fresh, bloom, m_bits=1 << 14, k=4).collect()
        assert sum(r["maybe_seen"] for r in out) <= 2

    def test_exact_duplicates_across_split_probe_true(self, spark):
        from unstructured_spark.operators.dedup import (
            bloom_fingerprint_index,
            bloom_probe_new,
        )

        hist = spark.createDataFrame(
            [(0, "shared body"), (2, "only in history")],
            "doc_id long, text string",
        )
        new = spark.createDataFrame(
            [(1, "shared body"), (3, "never seen anywhere"), (5, None)],
            "doc_id long, text string",
        )
        bloom = bloom_fingerprint_index(hist, m_bits=1 << 14, k=4)
        out = {
            r["doc_id"]: r["maybe_seen"]
            for r in bloom_probe_new(new, bloom, m_bits=1 << 14, k=4).collect()
        }
        assert out[1] is True       # exact dup of a history doc
        assert out[3] is False      # definitively new
        assert out[5] is False      # NULL text: no fingerprint, passes as new

    def test_stream_probe_matches_batch(self, spark):
        # one rule for a batch and a stream: a pass-through gate with a
        # verdict per row — tricky inputs: unicode NBSP (Java \s is
        # ASCII-only), tabs/multi-space runs, NULL text, exact dup
        from unstructured_spark.operators.dedup import (
            bloom_fingerprint_index,
            bloom_probe_new,
        )

        hist = spark.createDataFrame(
            [(0, "shared  body"), (2, "only\tin history"), (4, "nb\u00a0sp")],
            "doc_id long, text string",
        )
        new = spark.createDataFrame(
            [
                (1, "shared  body"),
                (3, "never seen anywhere"),
                (5, None),
                (7, "nb\u00a0sp"),
                (9, "SHARED  BODY"),
                (6, "\x01shared  body"),  # SQL trim keeps the control char
            ],
            "doc_id long, text string",
        )
        bloom = bloom_fingerprint_index(hist, m_bits=1 << 14, k=4)
        gated = bloom_probe_new(new, bloom, m_bits=1 << 14, k=4)
        # pass-through gate: input schema preserved, verdict appended
        assert gated.columns == new.columns + ["maybe_seen"]
        verdicts = {str(r["doc_id"]): r["maybe_seen"] for r in gated.collect()}
        assert len(verdicts) == 6
        assert verdicts["1"] is True and verdicts["9"] is True
        assert verdicts["7"] is True
        assert verdicts["6"] is False  # trim does not strip \x01: new fp
        assert verdicts["3"] is False and verdicts["5"] is False

    def test_stream_probe_runs_on_a_real_stream(self, spark, tmp_path):
        from unstructured_spark.operators.dedup import (
            bloom_fingerprint_index,
            bloom_probe_new,
        )

        src = tmp_path / "src"
        src.mkdir()
        spark.createDataFrame(
            [(1, "shared body"), (3, "never seen anywhere")],
            "doc_id long, text string",
        ).write.parquet(str(src), mode="overwrite")
        hist = spark.createDataFrame(
            [(0, "shared body")], "doc_id long, text string"
        )
        bloom = bloom_fingerprint_index(hist, m_bits=1 << 14, k=4)
        stream = spark.readStream.schema("doc_id long, text string").parquet(
            str(src)
        )
        gated = bloom_probe_new(stream, bloom, m_bits=1 << 14, k=4)
        assert gated.isStreaming
        q = (
            gated.writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        out = {
            r["doc_id"]: r["maybe_seen"]
            for r in spark.read.parquet(str(tmp_path / "out")).collect()
        }
        assert out == {1: True, 3: False}

    def test_stream_gates_start_no_job_while_built(self, spark, tmp_path):
        # the probe is a plan, not a collect: wiring it into a stream
        # runs nothing until the query starts
        from unstructured_spark.operators.dedup import (
            bloom_fingerprint_index,
            fingerprint_index,
        )
        from unstructured_spark.streaming.dedup import (
            exact_dedup_stream_against_index,
        )
        from unstructured_spark.streaming.pipeline import attribution_stream

        hist = spark.createDataFrame(
            [(0, "shared body")], "doc_id long, text string"
        )
        bloom = bloom_fingerprint_index(hist, m_bits=1 << 14, k=4)
        index = fingerprint_index(hist)
        stream = spark.readStream.schema("doc_id long, text string").parquet(
            str(tmp_path)
        )
        sc = spark.sparkContext
        group = "bloom-stream-build"
        sc.setJobGroup(group, group)
        try:
            gated = exact_dedup_stream_against_index(
                stream, bloom, index, m_bits=1 << 14, k=4
            )
            verdicts = attribution_stream(
                stream, bloom=bloom, m_bits=1 << 14, k=4
            )
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert gated.isStreaming and verdicts.isStreaming
        assert sc.statusTracker().getJobIdsForGroup(group) == []

    def test_merged_filters_equal_filter_of_union(self, spark):
        # Bloom union is exact: merge(bloom(A), bloom(B)) must be
        # bit-for-bit bloom(A ∪ B) — the no-rebuild maintenance claim
        from unstructured_spark.operators.dedup import (
            bloom_fingerprint_index,
            bloom_probe_new,
            merge_bloom_indexes,
        )

        a = spark.createDataFrame(
            [(i, f"corpus alpha doc {i}") for i in range(60)],
            "doc_id long, text string",
        )
        b = spark.createDataFrame(
            [(100 + i, f"corpus beta doc {i}") for i in range(40)],
            "doc_id long, text string",
        )
        kw = dict(m_bits=1 << 14, k=4)
        merged = {
            r["word"]: r["bits"]
            for r in merge_bloom_indexes(
                bloom_fingerprint_index(a, **kw),
                bloom_fingerprint_index(b, **kw),
            ).collect()
        }
        whole = {
            r["word"]: r["bits"]
            for r in bloom_fingerprint_index(a.unionByName(b), **kw).collect()
        }
        assert merged == whole
        # and the merged filter answers probes like the whole-corpus one
        probes = a.limit(5).unionByName(b.limit(5))
        m_df = spark.createDataFrame(
            [(w, bits) for w, bits in merged.items()], "word long, bits long"
        )
        out = bloom_probe_new(probes, m_df, **kw).collect()
        assert all(r["maybe_seen"] for r in out)

    def test_merge_requires_input(self, spark):
        import pytest

        from unstructured_spark.operators.dedup import merge_bloom_indexes

        with pytest.raises(ValueError):
            merge_bloom_indexes()

    def test_fingerprint_index_merge_is_idempotent_keep_first(self, spark):
        from unstructured_spark.operators.dedup import (
            fingerprint_index,
            merge_fingerprint_indexes,
        )

        day1 = spark.createDataFrame(
            [(5, "shared body"), (2, "only day one")],
            "doc_id long, text string",
        )
        day2 = spark.createDataFrame(
            [(9, "shared body"), (7, "new on day two")],
            "doc_id long, text string",
        )
        i1, i2 = fingerprint_index(day1), fingerprint_index(day2)
        merged = {
            r["fingerprint"]: r["doc_id"]
            for r in merge_fingerprint_indexes(i1, i2).collect()
        }
        whole = {
            r["fingerprint"]: r["doc_id"]
            for r in fingerprint_index(day1.unionByName(day2))
            .groupBy("fingerprint")
            .agg(F.min("doc_id").alias("doc_id"))
            .collect()
        }
        assert merged == whole and len(merged) == 3
        again = {
            r["fingerprint"]: r["doc_id"]
            for r in merge_fingerprint_indexes(
                merge_fingerprint_indexes(i1, i2), i1
            ).collect()
        }
        assert again == merged
