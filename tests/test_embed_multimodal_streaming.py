"""Embedding operators (§2.7), multimodal columns, and streaming
ingest (§2.10 streaming row)."""

from __future__ import annotations

import io
import struct
import zlib

import pytest
from pyspark.sql import functions as F

from tests import fixtures as fx
from unstructured_spark.operators import embed, multimodal

# long-running suite: deselected from the default fast tier (pytest.ini);
# runs in the round-end full pass with -m "slow or not slow"
pytestmark = pytest.mark.slow


def _png(width: int, height: int) -> bytes:
    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload))
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IEND", b"")


def _wav(seconds: float = 2.0, rate: int = 8000, channels: int = 1) -> bytes:
    n = int(seconds * rate * channels * 2)
    data = b"\x00" * n
    buf = io.BytesIO()
    buf.write(b"RIFF" + struct.pack("<I", 36 + n) + b"WAVE")
    buf.write(
        b"fmt " + struct.pack("<IHHIIHH", 16, 1, channels, rate,
                              rate * channels * 2, channels * 2, 16)
    )
    buf.write(b"data" + struct.pack("<I", n) + data)
    return buf.getvalue()


class TestEmbedding:
    def test_hashing_encoder_deterministic_and_normalized(self):
        enc = embed.HashingEncoder(dim=32)
        v1 = enc.embed_query("hello world")
        v2 = enc.embed_query("hello world")
        assert v1 == v2
        assert abs(sum(x * x for x in v1) - 1.0) < 1e-9

    def test_embed_elements_column(self, spark):
        df = spark.createDataFrame(
            [("d1", "alpha beta"), ("d2", "gamma")], "doc_id string, text string"
        )
        out = embed.embed_elements(df, lambda: embed.HashingEncoder(16))
        rows = {r["doc_id"]: r["embeddings"] for r in out.collect()}
        assert len(rows["d1"]) == 16
        local = embed.HashingEncoder(16).embed_query("alpha beta")
        assert [round(v, 5) for v in rows["d1"]] == [round(v, 5) for v in local]

    def test_cosine_expr_matches_python(self, spark):
        enc = embed.HashingEncoder(16)
        df = spark.createDataFrame(
            [("a b c", "a b d")], "t1 string, t2 string"
        )
        both = embed.embed_elements(
            embed.embed_elements(df, lambda: enc, text_col="t1", out_col="e1"),
            lambda: enc, text_col="t2", out_col="e2",
        )
        sim = both.select(
            embed.cosine_sim_expr(F.col("e1"), F.col("e2")).alias("sim")
        ).collect()[0]["sim"]
        v1, v2 = enc.embed_query("a b c"), enc.embed_query("a b d")
        expected = sum(x * y for x, y in zip(v1, v2))
        assert abs(sim - expected) < 1e-6

    def test_huggingface_gated(self):
        with pytest.raises(NotImplementedError, match="sentence-transformers"):
            embed.HuggingFaceEncoder()


class TestMultimodal:
    def test_probe_png_jpeg_wav(self):
        png = multimodal.probe_bytes(_png(640, 480))
        assert (png["format"], png["width"], png["height"]) == ("png", 640, 480)
        wav = multimodal.probe_bytes(_wav(2.0, 8000, 1))
        assert wav["format"] == "wav"
        assert wav["sample_rate"] == 8000
        assert abs(wav["duration_seconds"] - 2.0) < 0.01
        assert multimodal.probe_bytes(b"\xff\xd8\xff\xe0" + b"\x00" * 20)["format"] == "jpeg"

    def test_probe_media_dataframe(self, spark):
        df = spark.createDataFrame(
            [("img1", bytearray(_png(32, 16))), ("aud1", bytearray(_wav()))],
            "doc_id string, content binary",
        )
        rows = {r["doc_id"]: r["media_meta"] for r in multimodal.probe_media(df).collect()}
        assert rows["img1"]["width"] == 32
        assert rows["aud1"]["format"] == "wav"
        assert rows["img1"]["size_bytes"] == len(_png(32, 16))

    def test_decode_real_codec_and_fake_stand_in(self, spark):
        # undecodable bytes -> null features (per-row isolation); the
        # stdlib codec handles PNG/BMP/GIF for real (tests/test_image_codec.py)
        df = spark.createDataFrame(
            [("a", bytearray(b"\x00\x7f\xff"))], "doc_id string, content binary"
        )
        assert multimodal.decode_image_features(df).collect()[0]["features"] is None
        out = multimodal.decode_image_features(df, fake=True, bins=4).collect()[0]
        assert len(out["features"]) == 4
        assert abs(sum(out["features"]) - 1.0) < 1e-6

    def test_frame_offsets(self, spark):
        df = spark.createDataFrame(
            [("v1", bytearray(b"x" * 1000))], "doc_id string, content binary"
        )
        rows = multimodal.sample_frame_offsets(df, n_frames=4).collect()
        assert [r["frame_index"] for r in rows] == [0, 1, 2, 3]
        assert [r["byte_offset"] for r in rows] == [0, 250, 500, 750]


class TestStreaming:
    def test_stream_partition_and_chunk(self, spark, tmp_path):
        # a stream runs the batch partition_and_chunk unchanged: its
        # sort-free in-UDF fold must give exactly the rows of the batch
        # partition → exchange → chunk_by_title path over the same files
        from unstructured_spark.operators.chunking import chunk_by_title
        from unstructured_spark.operators.partition_auto import (
            partition_and_chunk,
            partition_documents,
        )
        from unstructured_spark.streaming import (
            read_document_stream,
            write_elements_stream,
        )

        in_dir = tmp_path / "in"
        in_dir.mkdir()
        (in_dir / "a.txt").write_text(fx.FAKE_TEXT)
        (in_dir / "b.html").write_text(fx.FAKE_HTML)
        kw = {"max_characters": 200}

        def drain():
            docs = read_document_stream(spark, str(in_dir))
            assert docs.isStreaming
            q = write_elements_stream(
                partition_and_chunk(docs, chunking_strategy="by_title", chunk_kwargs=kw),
                str(tmp_path / "out"),
                str(tmp_path / "ckpt"),
                available_now=True,
            )
            q.awaitTermination(120)
            return spark.read.parquet(str(tmp_path / "out"))

        rows = drain().collect()
        assert len(rows) >= 2
        assert set(r["type"] for r in rows) <= {"CompositeElement", "Table", "TableChunk"}
        docs_seen = {r["doc_id"] for r in rows}
        assert any("a.txt" in d for d in docs_seen)
        assert any("b.html" in d for d in docs_seen)

        # arriving file picked up by a second availableNow drain
        (in_dir / "c.txt").write_text("New arrival paragraph. It was late.")
        out2 = drain()
        assert any("c.txt" in r["doc_id"] for r in out2.collect())

        batch_docs = spark.read.format("binaryFile").load(str(in_dir)).select(
            F.col("path").alias("doc_id"), "path", "content"
        )
        batch = chunk_by_title(partition_documents(batch_docs), **kw)

        def keyed(df):
            return sorted(
                (r.asDict(recursive=True) for r in df.collect()),
                key=lambda d: (d["doc_id"], d["element_index"]),
            )

        # small Arrow batches make the batch fold carry documents across
        # batch boundaries, which the in-UDF fold never has to do
        prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
        try:
            expected = keyed(batch)
        finally:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
        assert out2.columns == batch.columns
        assert keyed(out2) == expected
        assert {d["doc_id"].rsplit("/", 1)[-1] for d in expected} == {
            "a.txt", "b.html", "c.txt"
        }


class TestStreamingDataLoader:
    def test_stream_to_token_shards_e2e(self, spark, tmp_path):
        # the full streaming data-loader tail: files → parse+chunk →
        # NB gate → token-balanced shards, with shard numbering
        # CONTINUING across a second availableNow drain
        from unstructured_spark.operators.classifier import nb_train
        from unstructured_spark.operators.partition_auto import partition_and_chunk
        from unstructured_spark.streaming.pipeline import (
            read_document_stream,
            stream_to_token_shards,
        )

        in_dir = tmp_path / "in"
        in_dir.mkdir()
        for i in range(4):
            (in_dir / f"doc{i}.txt").write_text(
                f"Document {i} heading\n\n"
                + f"good clean prose number {i} about science data. " * 6
            )
        (in_dir / "spam.txt").write_text(
            "buy cheap pills now click here casino bonus free. " * 6
        )
        seed = spark.createDataFrame(
            [
                (1, "good clean prose about science and data", "keep"),
                (2, "well formed sentences with science structure", "keep"),
                (3, "buy cheap pills now click here casino", "drop"),
                (4, "casino bonus click free pills buy now", "drop"),
            ],
            "doc_id long, text string, label string",
        )
        model = nb_train(seed, buckets=512)
        out_dir, ckpt = str(tmp_path / "shards"), str(tmp_path / "ckpt")

        def drain():
            chunks = partition_and_chunk(
                read_document_stream(spark, str(in_dir)),
                chunking_strategy="by_title",
                chunk_kwargs={"max_characters": 200},
            )
            q = stream_to_token_shards(
                chunks, model, out_dir, ckpt,
                tokens_per_shard=30, buckets=512, available_now=True,
            )
            q.awaitTermination(120)

        drain()
        rows = spark.read.parquet(out_dir).collect()
        assert rows, "no shards written"
        # spam chunks were gated out, good docs survived
        assert not any("casino" in (r["text"] or "") for r in rows)
        assert any("science" in (r["text"] or "") for r in rows)
        # shard ids are token-balanced: every shard except the last
        # starts within tokens_per_shard of the previous boundary
        max_shard_1 = max(r["shard_id"] for r in rows)
        total_1 = sum(r["n_tokens"] for r in rows)
        assert max_shard_1 <= total_1 // 30 + 1

        # second drain: new arrival continues the token offset — its
        # chunks land in shards AT OR AFTER the current boundary
        (in_dir / "late.txt").write_text(
            "late arriving science data prose paragraph. " * 6
        )
        drain()
        rows2 = spark.read.parquet(out_dir).collect()
        late = [r for r in rows2 if "late.txt" in r["doc_id"]]
        assert late, "second drain wrote nothing for the new file"
        assert min(r["shard_id"] for r in late) >= total_1 // 30


class TestStreamingEvents:
    def _event_stream(self, spark, tmp_path, rows):
        import json

        in_dir = tmp_path / "events_in"
        in_dir.mkdir()
        with open(in_dir / "batch1.json", "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        return (
            spark.readStream.schema(
                "ts timestamp, user_id long, event_type string, value double"
            ).json(str(in_dir))
        )

    def test_watermarked_window_counts(self, spark, tmp_path):
        from unstructured_spark.streaming.events import windowed_event_counts

        rows = [
            {"ts": "2024-01-01T00:10:00", "user_id": 1, "event_type": "click", "value": 1.0},
            {"ts": "2024-01-01T00:40:00", "user_id": 2, "event_type": "click", "value": 2.0},
            {"ts": "2024-01-01T01:10:00", "user_id": 1, "event_type": "view", "value": 3.0},
        ]
        stream = self._event_stream(spark, tmp_path, rows)
        out = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
        q = (
            out.writeStream.format("memory")
            .queryName("win_counts")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (str(r["window_start"]), r["event_type"]): r["n_events"]
            for r in spark.sql("select * from win_counts").collect()
        }
        assert got[("2024-01-01 00:00:00", "click")] == 2
        assert got[("2024-01-01 01:00:00", "view")] == 1

    def test_stateful_sessionizer(self, spark, tmp_path):
        from unstructured_spark.streaming.events import sessionize_stream

        rows = [
            {"ts": "2024-01-01T00:00:00", "user_id": 1, "event_type": "c", "value": 1.0},
            {"ts": "2024-01-01T00:10:00", "user_id": 1, "event_type": "c", "value": 2.0},
            # > 30 min gap → second session for user 1
            {"ts": "2024-01-01T01:00:00", "user_id": 1, "event_type": "c", "value": 4.0},
            {"ts": "2024-01-01T00:05:00", "user_id": 2, "event_type": "c", "value": 8.0},
        ]
        stream = self._event_stream(spark, tmp_path, rows)
        out = sessionize_stream(stream, gap_seconds=1800)
        q = (
            out.writeStream.format("memory")
            .queryName("sessions")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows_out = spark.sql("select * from sessions").collect()
        closed = [r for r in rows_out if r["closed"]]
        open_ = [r for r in rows_out if not r["closed"]]
        # user 1's first session closed by the gap: 2 events, value 3
        assert any(
            r["user_id"] == 1 and r["n_events"] == 2 and r["total_value"] == 3.0
            for r in closed
        )
        # user 1's second and user 2's only session still open
        assert any(r["user_id"] == 1 and r["n_events"] == 1 for r in open_)
        assert any(r["user_id"] == 2 and r["total_value"] == 8.0 for r in open_)


class TestStreamingFunnel:
    """Stream/batch funnel parity on a shared fixture (r4 verdict #9):
    the applyInPandasWithState chain must agree with the batch windowed
    conditional-min chain, including out-of-order arrival across
    batches (a later, earlier step-1 event lowers every bound)."""

    ROWS = [
        # user 1 completes view -> cart -> buy inside the window
        {"ts": "2024-01-01T00:00:00", "user_id": 1, "event_type": "view", "value": 0.0},
        {"ts": "2024-01-01T00:05:00", "user_id": 1, "event_type": "cart", "value": 0.0},
        {"ts": "2024-01-01T00:10:00", "user_id": 1, "event_type": "buy", "value": 0.0},
        # user 2 stalls after view; cart arrives past the deadline
        {"ts": "2024-01-01T00:00:00", "user_id": 2, "event_type": "view", "value": 0.0},
        {"ts": "2024-01-01T02:00:00", "user_id": 2, "event_type": "cart", "value": 0.0},
        # user 3: cart BEFORE its view -> ineligible for t2...
        {"ts": "2024-01-01T00:00:00", "user_id": 3, "event_type": "cart", "value": 0.0},
        {"ts": "2024-01-01T00:30:00", "user_id": 3, "event_type": "view", "value": 0.0},
        # user 4 never starts the funnel
        {"ts": "2024-01-01T00:00:00", "user_id": 4, "event_type": "buy", "value": 0.0},
    ]
    LATE = [
        # ...until this out-of-order batch-2 view at 23:50 of the
        # previous day lowers user 3's t1 below the cart time
        {"ts": "2023-12-31T23:50:00", "user_id": 3, "event_type": "view", "value": 0.0},
    ]
    STEPS = ["view", "cart", "buy"]
    WITHIN = 3600

    def _stream_two_batches(self, spark, tmp_path):
        import json

        in_dir = tmp_path / "funnel_in"
        in_dir.mkdir()
        with open(in_dir / "batch1.json", "w") as f:
            for r in self.ROWS:
                f.write(json.dumps(r) + "\n")
        with open(in_dir / "batch2.json", "w") as f:
            for r in self.LATE:
                f.write(json.dumps(r) + "\n")
        return (
            spark.readStream.schema(
                "ts timestamp, user_id long, event_type string, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .json(str(in_dir))
        )

    def test_stream_matches_batch(self, spark, tmp_path):
        from unstructured_spark.operators.funnel import funnel
        from unstructured_spark.streaming.events import funnel_stream

        batch_df = spark.createDataFrame(
            [
                (r["ts"].replace("T", " "), r["user_id"], r["event_type"])
                for r in self.ROWS + self.LATE
            ],
            "ts string, user_id long, event_type string",
        ).withColumn("ts", F.to_timestamp("ts"))
        expected = {
            r["user_id"]: (r["t1"], r["t2"], r["t3"], r["stage"])
            for r in funnel(
                batch_df, self.STEPS, within_seconds=self.WITHIN
            ).collect()
        }
        # fixture sanity: the late view flips user 3 to stage 2
        assert expected[3][3] == 2 and expected[1][3] == 3 and expected[2][3] == 1

        stream = self._stream_two_batches(spark, tmp_path)
        out = funnel_stream(stream, self.STEPS, within_seconds=self.WITHIN)
        q = (
            out.writeStream.format("memory")
            .queryName("funnel_updates")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        upd = spark.sql("select * from funnel_updates").collect()
        # memory-sink row order isn't batch order; the final chain is
        # the minimal-t1 update (t1 only ever decreases), stage as the
        # tiebreak
        final = {}
        for r in upd:
            cur = (r["t1"], r["t2"], r["t3"], r["stage"])
            prev = final.get(r["user_id"])
            if prev is None or (cur[0], -cur[3]) < (prev[0], -prev[3]):
                final[r["user_id"]] = cur
        assert final == expected
        # mid-stream honesty: user 3 was stage 1 before the late view
        assert {r["stage"] for r in upd if r["user_id"] == 3} == {1, 2}


class TestStreamingDedup:
    def _doc_stream(self, spark, tmp_path, rows):
        import json

        in_dir = tmp_path / "docs_in"
        in_dir.mkdir()
        with open(in_dir / "batch1.json", "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        return spark.readStream.schema(
            "ingest_ts timestamp, doc_id string, text string"
        ).json(str(in_dir))

    def test_exact_dedup_stream(self, spark, tmp_path):
        from unstructured_spark.streaming.dedup import dedup_stream

        rows = [
            {"ingest_ts": "2024-01-01T00:00:00", "doc_id": "a", "text": "Hello  world"},
            {"ingest_ts": "2024-01-01T00:01:00", "doc_id": "b", "text": "hello world"},
            {"ingest_ts": "2024-01-01T00:02:00", "doc_id": "c", "text": "another doc"},
        ]
        out = dedup_stream(self._doc_stream(spark, tmp_path, rows))
        q = (
            out.writeStream.format("memory")
            .queryName("dedup_exact")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("select * from dedup_exact").collect()
        # a and b share a normalized fingerprint -> one survivor + c
        assert len(got) == 2
        assert {r["doc_id"] for r in got} <= {"a", "b", "c"}
        assert len({r["fingerprint"] for r in got}) == 2

    def test_near_dedup_stream(self, spark, tmp_path):
        from unstructured_spark.streaming.dedup import near_dedup_stream

        base = "the quick brown fox jumps over the lazy dog again and again"
        rows = [
            {"ingest_ts": "2024-01-01T00:00:00", "doc_id": "a", "text": base},
            # same shingle set after normalization -> identical
            # signature -> loses every bucket to a (deterministic)
            {"ingest_ts": "2024-01-01T00:01:00", "doc_id": "b",
             "text": base.upper().replace(" ", "   ")},
            # unrelated -> wins its own buckets
            {"ingest_ts": "2024-01-01T00:02:00", "doc_id": "c",
             "text": "completely different content about spark streaming state"},
        ]
        out = near_dedup_stream(self._doc_stream(spark, tmp_path, rows))
        q = (
            out.writeStream.format("memory")
            .queryName("dedup_near")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        wins = {r["doc_id"]: r["bucket_wins"] for r in spark.sql("select * from dedup_near").collect()}
        assert wins.get("a", 0) == 8  # first copy holds all 8 band buckets
        assert wins.get("b", 0) == 0  # exact near-dup loses every bucket
        assert wins.get("c", 0) == 8  # novel doc wins all 8 bands


class TestStreamNearDedupAgainstIndex:
    def test_history_collisions_suppressed(self, spark, tmp_path):
        import json

        from unstructured_spark.operators.dedup import minhash_band_index
        from unstructured_spark.streaming.dedup import (
            near_dedup_stream_against_index,
        )

        base = ("the quick brown fox jumps over the lazy dog and keeps "
                "running through the quiet forest for a long while today")
        hist = spark.createDataFrame([(2, base)], "doc_id long, text string")
        index = minhash_band_index(hist)

        in_dir = tmp_path / "ndi_in"
        in_dir.mkdir()
        rows = [
            {"ingest_ts": "2024-01-01T00:00:00", "doc_id": "a", "text": base},
            {"ingest_ts": "2024-01-01T00:01:00", "doc_id": "b",
             "text": "completely different content about spark physical plans"},
            # too short to shingle -> always novel in the near-dup pass
            {"ingest_ts": "2024-01-01T00:02:00", "doc_id": "c", "text": "hi"},
        ]
        with open(in_dir / "b1.json", "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        stream = spark.readStream.schema(
            "ingest_ts timestamp, doc_id string, text string"
        ).json(str(in_dir))
        out = near_dedup_stream_against_index(stream, index, emit="all")
        q = (
            out.writeStream.format("memory").queryName("ndi_all")
            .outputMode("update").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = {r["doc_id"]: r for r in spark.sql("select * from ndi_all").collect()}
        assert set(got) == {"a", "b", "c"}
        assert not got["a"]["is_novel"]  # exact copy of history
        assert got["a"]["max_est_jaccard"] == 1.0
        assert got["b"]["is_novel"] and got["c"]["is_novel"]

    def test_batch_parity_with_dedup_against_index(self, spark, tmp_path):
        # the stream's verdicts must agree with the batch operator's
        # vs-history pass (intra_batch=False) on the same data
        import json

        from unstructured_spark.operators.dedup import (
            dedup_against_index,
            minhash_band_index,
        )
        from unstructured_spark.streaming.dedup import (
            near_dedup_stream_against_index,
        )

        base = ("the quick brown fox jumps over the lazy dog and keeps "
                "running through the quiet forest for a long while today")
        hist = spark.createDataFrame(
            [(2, base),
             (4, "an older article about database engine internals and joins")],
            "doc_id long, text string",
        )
        index = minhash_band_index(hist)
        texts = {
            "a": base,
            "b": base.replace("quick", "swift"),
            "c": "entirely novel text with no relation to the history corpus",
        }
        batch = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts.values())],
            "doc_id long, text string",
        )
        batch_survivor_texts = {
            r["text"]
            for r in dedup_against_index(batch, index, intra_batch=False).collect()
        }

        in_dir = tmp_path / "ndi_par"
        in_dir.mkdir()
        with open(in_dir / "b1.json", "w") as f:
            for i, (k, t) in enumerate(texts.items()):
                f.write(json.dumps(
                    {"ingest_ts": f"2024-01-01T00:0{i}:00", "doc_id": k,
                     "text": t}) + "\n")
        stream = spark.readStream.schema(
            "ingest_ts timestamp, doc_id string, text string"
        ).json(str(in_dir))
        out = near_dedup_stream_against_index(stream, index)
        q = (
            out.writeStream.format("memory").queryName("ndi_par")
            .outputMode("update").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        stream_novel_texts = {
            texts[r["doc_id"]]
            for r in spark.sql("select * from ndi_par").collect()
        }
        assert stream_novel_texts == batch_survivor_texts

    def test_mismatched_index_params_fail_in_stream(self, spark, tmp_path):
        # the stream path shares the batch's fail-fast guard: an index
        # built with other bands would silently never key-match and the
        # stream would pass every historical duplicate through
        import json

        from unstructured_spark.operators.dedup import minhash_band_index
        from unstructured_spark.streaming.dedup import (
            near_dedup_stream_against_index,
        )

        base = ("the quick brown fox jumps over the lazy dog and keeps "
                "running through the quiet forest for a long while today")
        hist = spark.createDataFrame([(2, base)], "doc_id long, text string")
        bad_index = minhash_band_index(hist, bands=4)

        in_dir = tmp_path / "ndi_guard"
        in_dir.mkdir()
        with open(in_dir / "b1.json", "w") as f:
            f.write(json.dumps(
                {"ingest_ts": "2024-01-01T00:00:00", "doc_id": "a",
                 "text": base}) + "\n")
        stream = spark.readStream.schema(
            "ingest_ts timestamp, doc_id string, text string"
        ).json(str(in_dir))
        out = near_dedup_stream_against_index(stream, bad_index)
        q = (
            out.writeStream.format("memory").queryName("ndi_guard")
            .outputMode("update").trigger(availableNow=True).start()
        )
        try:
            with pytest.raises(Exception) as ei:
                q.awaitTermination(120)
        finally:
            q.stop()
        assert "incompatible" in str(ei.value) or "incompatible" in str(
            q.exception()
        )


class TestExactIncrementalDedup:
    def test_history_and_intra_batch(self, spark):
        from unstructured_spark.operators.dedup import (
            exact_dedup_against_index,
            fingerprint_index,
        )

        hist = spark.createDataFrame(
            [(2, "Known   Document")], "doc_id long, text string"
        )
        index = fingerprint_index(hist)
        new = spark.createDataFrame(
            [
                (11, "known document"),   # normalized copy of history
                (13, "fresh one"),
                (15, "FRESH  one"),       # normalized copy of 13
            ],
            "doc_id long, text string",
        )
        got = {r["doc_id"] for r in exact_dedup_against_index(new, index).collect()}
        assert got == {13}
        got2 = {
            r["doc_id"]
            for r in exact_dedup_against_index(new, index, intra_batch=False).collect()
        }
        assert got2 == {13, 15}


class TestStreamingDedupSameBatch:
    def test_same_batch_identical_docs_keep_exactly_one(self, spark, tmp_path):
        # regression (r5 review): two identical docs in ONE microbatch
        # used to split the band-bucket wins so NEITHER won all bands
        # and both were suppressed — the dedup stream lost the content
        import json

        from unstructured_spark.streaming.dedup import near_dedup_stream

        in_dir = tmp_path / "docs_in"
        in_dir.mkdir()
        rows = [
            {"ingest_ts": "2024-01-01T00:00:00", "doc_id": "a",
             "text": "the exact same document text appears twice here"},
            {"ingest_ts": "2024-01-01T00:00:01", "doc_id": "b",
             "text": "the exact same document text appears twice here"},
            {"ingest_ts": "2024-01-01T00:00:02", "doc_id": "c",
             "text": "something entirely different about spark plans"},
        ]
        with open(in_dir / "batch1.json", "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        stream = spark.readStream.schema(
            "ingest_ts timestamp, doc_id string, text string"
        ).json(str(in_dir))
        out = near_dedup_stream(stream)
        q = (
            out.writeStream.format("memory").queryName("nd_same_batch")
            .outputMode("update").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = {r["doc_id"] for r in spark.sql("select * from nd_same_batch").collect()}
        # exactly ONE of the identical pair survives, plus the distinct doc
        assert "c" in got
        assert len(got & {"a", "b"}) == 1

    def test_normalize_false_keeps_raw_variants_distinct(self, spark, tmp_path):
        # regression (r6 ADVICE): with normalize=False the exact-copy
        # collapse used to key off NORMALIZED text, so raw-distinct
        # case variants were silently collapsed, breaking bit-exact
        # parity with the batch minhash_signatures operator
        import json

        from unstructured_spark.streaming.dedup import near_dedup_stream

        in_dir = tmp_path / "nd_raw_in"
        in_dir.mkdir()
        base = "the quick brown fox jumps over the lazy dog again and again"
        rows = [
            {"ingest_ts": "2024-01-01T00:00:00", "doc_id": "a", "text": base},
            # normalized-equal but raw-distinct: must be SCORED, not
            # collapsed, when normalize=False (raw shingles differ ->
            # distinct buckets -> novel in its own right)
            {"ingest_ts": "2024-01-01T00:01:00", "doc_id": "b",
             "text": base.upper()},
        ]
        with open(in_dir / "b1.json", "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        stream = spark.readStream.schema(
            "ingest_ts timestamp, doc_id string, text string"
        ).json(str(in_dir))
        out = near_dedup_stream(stream, normalize=False, emit="all")
        q = (
            out.writeStream.format("memory").queryName("nd_rawfp")
            .outputMode("update").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = {r["doc_id"]: r for r in spark.sql("select * from nd_rawfp").collect()}
        # both raw variants scored; raw shingles differ so both novel
        assert set(got) == {"a", "b"}
        assert got["a"]["is_novel"] and got["b"]["is_novel"]

    def test_bands_validation(self, spark):
        import pytest

        from unstructured_spark.streaming.dedup import near_dedup_stream

        df = spark.readStream.format("rate").load()
        with pytest.raises(ValueError, match="bands"):
            near_dedup_stream(df, num_hashes=16, bands=32)


class TestSessionizerLateEvents:
    def test_cross_batch_late_event_extends_backwards(self, spark, tmp_path):
        # regression (r5 review): a late event used to overwrite the
        # session end backwards, corrupting session_end and inflating
        # the next gap measurement
        import json

        from unstructured_spark.streaming.events import sessionize_stream

        in_dir = tmp_path / "late_in"
        in_dir.mkdir()
        with open(in_dir / "b1.json", "w") as f:
            for r in [
                {"ts": "2024-01-01T10:00:00", "user_id": 1, "event_type": "c", "value": 1.0},
                {"ts": "2024-01-01T10:05:00", "user_id": 1, "event_type": "c", "value": 2.0},
            ]:
                f.write(json.dumps(r) + "\n")
        with open(in_dir / "b2.json", "w") as f:
            # late (before the current end) + a follow-up 25 min after
            # the TRUE end: must stay ONE session
            for r in [
                {"ts": "2024-01-01T09:58:00", "user_id": 1, "event_type": "c", "value": 4.0},
                {"ts": "2024-01-01T10:30:00", "user_id": 1, "event_type": "c", "value": 8.0},
            ]:
                f.write(json.dumps(r) + "\n")
        # force batch order: the file source picks oldest-mtime first
        import os as _os

        _os.utime(in_dir / "b1.json", (1_000_000, 1_000_000))
        _os.utime(in_dir / "b2.json", (2_000_000, 2_000_000))
        stream = (
            spark.readStream.schema(
                "ts timestamp, user_id long, event_type string, value double"
            ).option("maxFilesPerTrigger", 1).json(str(in_dir))
        )
        out = sessionize_stream(stream, gap_seconds=1800)
        q = (
            out.writeStream.format("memory").queryName("late_sessions")
            .outputMode("update").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        rows = spark.sql("select * from late_sessions").collect()
        # the idle-timeout flush at stream end closes the (single)
        # session — but no PARTIAL session may have been falsely closed
        # by a regressed end (the old bug split it at 4 events vs 2)
        assert all(r["n_events"] == 4 for r in rows if r["closed"])
        final = max(rows, key=lambda r: r["n_events"])
        assert final["n_events"] == 4
        assert str(final["session_start"]).startswith("2024-01-01 09:58")
        assert str(final["session_end"]).startswith("2024-01-01 10:30")


class TestImageDhash:
    @staticmethod
    def _png(pixels, w, h):
        from unstructured_spark.parsers.image_codec import encode_png

        return encode_png(w, h, 1, bytes(pixels))

    def test_near_dup_images_close_far_images_far(self, spark):
        import random

        from unstructured_spark.operators.multimodal import image_dhash

        rnd = random.Random(7)
        base = [rnd.randrange(256) for _ in range(32 * 32)]
        nearby = list(base)
        for i in range(5):  # tiny perturbation
            nearby[i] = (nearby[i] + 8) % 256
        other = [rnd.randrange(256) for _ in range(32 * 32)]
        df = spark.createDataFrame(
            [
                ("a", bytearray(self._png(base, 32, 32))),
                ("b", bytearray(self._png(nearby, 32, 32))),
                ("c", bytearray(self._png(other, 32, 32))),
                ("bad", bytearray(b"not an image")),
            ],
            "doc_id string, content binary",
        )
        rows = {r["doc_id"]: r["dhash"] for r in image_dhash(df).collect()}
        assert rows["bad"] is None

        def ham(x, y):
            return bin((x ^ y) & ((1 << 64) - 1)).count("1")

        assert ham(rows["a"], rows["b"]) <= 6
        assert ham(rows["a"], rows["c"]) > 10

    def test_hamming_pairs_on_dhash(self, spark):
        from unstructured_spark.operators.dedup import hamming_pairs

        df = spark.createDataFrame(
            [(1, 0b1111), (2, 0b1110), (3, -(1 << 63))],
            "doc_id long, dhash long",
        )
        rows = hamming_pairs(
            df, hash_col="dhash", doc_id="doc_id", bits=64, max_distance=2
        ).collect()
        assert [(r["doc_a"], r["doc_b"], r["hamming"]) for r in rows] == [(1, 2, 1)]

    def test_hamming_pairs_cross_sign(self, spark):
        # dHash maps bit 63 to the int64 sign bit: fingerprints of
        # opposite sign whose bit patterns are 1 apart MUST still pair
        # (regression: arithmetic shiftright/% sign-encoded segments)
        from unstructured_spark.operators.dedup import hamming_pairs

        df = spark.createDataFrame(
            [(1, (1 << 63) - 1), (2, -1)],  # differ only in bit 63
            "doc_id long, dhash long",
        )
        rows = hamming_pairs(
            df, hash_col="dhash", doc_id="doc_id", bits=64, max_distance=2
        ).collect()
        assert [(r["doc_a"], r["doc_b"], r["hamming"]) for r in rows] == [(1, 2, 1)]

    def test_hamming_pairs_max_distance_zero(self, spark):
        # segs=1 → the full 64-bit fingerprint is the bucket key
        # (regression: 2^64 literal did not fit LongType)
        from unstructured_spark.operators.dedup import hamming_pairs

        df = spark.createDataFrame(
            [(1, -42), (2, -42), (3, 7)], "doc_id long, dhash long"
        )
        rows = hamming_pairs(
            df, hash_col="dhash", doc_id="doc_id", bits=64, max_distance=0
        ).collect()
        assert [(r["doc_a"], r["doc_b"], r["hamming"]) for r in rows] == [(1, 2, 0)]


class TestStreamingHygieneChain:
    def test_redact_quality_langid_stream(self, spark, tmp_path):
        """The map-only training-data hygiene stages (PII redaction,
        Gopher stats + keep filter, language detection) compose
        unchanged in a Structured Streaming query — zero stateful
        operators, so no watermark is needed."""
        import json

        from pyspark.sql import functions as F

        from unstructured_spark.operators.metadata import detect_language_expr
        from unstructured_spark.operators.pii import redact_docs
        from unstructured_spark.operators.quality_filters import (
            gopher_keep_expr,
            gopher_stats_exprs,
        )

        src = tmp_path / "docs"
        rows = [
            {"doc_id": 1,
             "text": "Contact jane.doe@example.com for the quarterly report "
                     "with all of the usual details and some more words here."},
            {"doc_id": 2, "text": "x"},  # fails the quality gate
        ]
        spark.createDataFrame(
            [(r["doc_id"], r["text"]) for r in rows], "doc_id long, text string"
        ).write.parquet(str(src))

        stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
        stats = gopher_stats_exprs("text")
        out = (
            redact_docs(stream)
            .select("*", *[c.alias(n) for n, c in stats.items()])
            .filter(gopher_keep_expr(min_words=5, min_stopwords=0))
            .withColumn("languages", F.array(detect_language_expr(F.col("text"))))
        )
        assert out.isStreaming
        q = (
            out.writeStream.format("memory")
            .queryName("hygiene_stream")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("select * from hygiene_stream").collect()
        assert [r["doc_id"] for r in got] == [1]
        assert "jane.doe@example.com" not in got[0]["text"]
        assert "[EMAIL]" in got[0]["text"] or "EMAIL" in got[0]["text"]
        assert got[0]["languages"] == ["eng"]


class TestBloomGatedStreamDedup:
    def _hist(self, spark):
        return spark.createDataFrame(
            [(i, f"history document number {i} body") for i in range(50)],
            "doc_id long, text string",
        )

    def test_equals_plain_anti_join(self, spark):
        # Bloom error is one-sided: the gated form must emit EXACTLY
        # the rows the plain exact anti-join emits, on a batch frame
        from unstructured_spark.operators.dedup import (
            bloom_fingerprint_index,
            exact_dedup_against_index,
            fingerprint_index,
        )
        from unstructured_spark.streaming.dedup import (
            exact_dedup_stream_against_index,
        )

        hist = self._hist(spark)
        new = spark.createDataFrame(
            [(100, "history document number 7 body"),   # exact dup
             (101, "a genuinely new document body"),
             (102, None),
             (103, "History   document number 7 BODY")],  # normalized dup
            "doc_id long, text string",
        )
        bloom = bloom_fingerprint_index(hist, m_bits=1 << 14, k=4)
        index = fingerprint_index(hist)
        gated = sorted(
            r["doc_id"]
            for r in exact_dedup_stream_against_index(
                new, bloom, index, m_bits=1 << 14, k=4
            ).collect()
        )
        plain = sorted(
            r["doc_id"]
            for r in exact_dedup_against_index(
                new, index, intra_batch=False
            ).collect()
        )
        assert gated == plain == [101, 102]

    def test_runs_on_a_real_stream(self, spark, tmp_path):
        from unstructured_spark.operators.dedup import (
            bloom_fingerprint_index,
            fingerprint_index,
        )
        from unstructured_spark.streaming.dedup import (
            exact_dedup_stream_against_index,
        )

        hist = self._hist(spark)
        bloom = bloom_fingerprint_index(hist, m_bits=1 << 14, k=4)
        index = fingerprint_index(hist)
        src = tmp_path / "src"
        src.mkdir()
        spark.createDataFrame(
            [(100, "history document number 3 body"),
             (101, "fresh text the history never saw")],
            "doc_id long, text string",
        ).write.parquet(str(src), mode="overwrite")
        stream = spark.readStream.schema("doc_id long, text string").parquet(
            str(src)
        )
        novel = exact_dedup_stream_against_index(
            stream, bloom, index, m_bits=1 << 14, k=4
        )
        assert novel.isStreaming
        q = (
            novel.writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        out = spark.read.parquet(str(tmp_path / "out")).collect()
        assert [r["doc_id"] for r in out] == [101]


class TestCorpusStatsStream:
    def test_windowed_stats_on_a_real_stream(self, spark, tmp_path):
        import json

        from unstructured_spark.streaming.pipeline import corpus_stats_stream

        src = tmp_path / "src"
        src.mkdir()
        rows = [
            {"ingest_ts": "2024-01-01T00:10:00", "source": "web",
             "text": "alpha beta gamma"},
            {"ingest_ts": "2024-01-01T00:20:00", "source": "web",
             "text": "delta epsilon"},
            {"ingest_ts": "2024-01-01T00:30:00", "source": "book",
             "text": "zeta"},
            {"ingest_ts": "2024-01-01T01:30:00", "source": "web",
             "text": "eta theta iota kappa"},
            {"ingest_ts": "2024-01-01T00:40:00", "source": "web",
             "text": None},
            # watermark flush: append mode only emits a window once the
            # watermark passes its end, so a far-future row finalizes
            # the hour-0 and hour-1 windows under availableNow
            {"ingest_ts": "2024-01-01T09:00:00", "source": "web",
             "text": "flush"},
        ]
        with open(src / "b1.json", "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        stream = spark.readStream.schema(
            "ingest_ts timestamp, source string, text string"
        ).json(str(src))
        stats = corpus_stats_stream(stream, window="1 hour", watermark="2 hours")
        assert stats.isStreaming
        q = (
            stats.writeStream.format("memory").queryName("cstats")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = {
            (str(r["window_start"]), r["source"]): (
                r["docs"], r["tokens"], r["chars"])
            for r in spark.sql("select * from cstats").collect()
        }
        # hour 0: web = 2 text docs + 1 NULL doc (counts, 0 tokens/chars)
        assert got[("2024-01-01 00:00:00", "web")] == (3, 5, 16 + 13)
        assert got[("2024-01-01 00:00:00", "book")] == (1, 1, 4)
        assert got[("2024-01-01 01:00:00", "web")] == (1, 4, 20)

    def test_matches_batch_datasheet_volumes(self, spark):
        # the stream aggregation's volume columns must equal the batch
        # datasheet's on the same frame (same token/char/quality defs)
        import pyspark.sql.functions as SF

        from unstructured_spark.operators.text_analysis import (
            corpus_datasheet,
        )
        from unstructured_spark.streaming.pipeline import corpus_stats_stream

        df = spark.createDataFrame(
            [("2024-01-01 00:05:00", "w", "en", "one two three"),
             ("2024-01-01 00:15:00", "w", "en", "four"),
             ("2024-01-01 00:25:00", "b", "en", None)],
            "ingest_ts string, source string, lang string, text string",
        ).withColumn("ingest_ts", SF.to_timestamp("ingest_ts"))
        stream_form = {
            r["source"]: (r["docs"], r["tokens"], r["chars"],
                          r["quality_q_sum"])
            for r in corpus_stats_stream(df, window="1 day").collect()
        }
        batch = {
            r["source"]: (r["docs"], r["tokens"], r["chars"])
            for r in corpus_datasheet(df).collect()
        }
        for src, (docs, toks, chars, _qs) in stream_form.items():
            assert batch[src] == (docs, toks, chars)

    def test_approx_uniques_column_opt_in(self, spark):
        import pyspark.sql.functions as SF

        from unstructured_spark.streaming.pipeline import corpus_stats_stream

        df = spark.createDataFrame(
            [("2024-01-01 00:05:00", "w", "same text"),
             ("2024-01-01 00:15:00", "w", "same text"),
             ("2024-01-01 00:25:00", "w", "different text")],
            "ingest_ts string, source string, text string",
        ).withColumn("ingest_ts", SF.to_timestamp("ingest_ts"))
        plain = corpus_stats_stream(df, window="1 day")
        assert "approx_unique_fps" not in plain.columns
        [r] = corpus_stats_stream(
            df, window="1 day", approx_uniques=True
        ).collect()
        # HLL is exact at this cardinality: 2 distinct fingerprints
        assert r["approx_unique_fps"] == 2 and r["docs"] == 3


class TestMixtureStream:
    def test_stream_partials_finalize_to_batch_weights(self, spark, tmp_path):
        import json

        import pyspark.sql.functions as SF

        from unstructured_spark.operators.sampling import (
            mixture_from_partials,
            mixture_reweight,
        )
        from unstructured_spark.streaming.pipeline import (
            mixture_partials_stream,
        )

        rows = [
            {"ingest_ts": "2024-01-01T00:10:00", "source": "A",
             "score_q": 100, "ntok": 10},
            {"ingest_ts": "2024-01-01T00:20:00", "source": "A",
             "score_q": 120, "ntok": 10},
            {"ingest_ts": "2024-01-01T00:30:00", "source": "B",
             "score_q": 300, "ntok": 10},
            {"ingest_ts": "2024-01-01T00:40:00", "source": "B",
             "score_q": 280, "ntok": 10},
            # far-future flush row so the hour-0 window finalizes in
            # append mode under availableNow
            {"ingest_ts": "2024-01-01T09:00:00", "source": "A",
             "score_q": 1, "ntok": 1},
        ]
        src = tmp_path / "src"
        src.mkdir()
        with open(src / "b1.json", "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        stream = spark.readStream.schema(
            "ingest_ts timestamp, source string, score_q long, ntok long"
        ).json(str(src))
        partials = mixture_partials_stream(
            stream, score_col="score_q", token_col="ntok",
            window="1 hour", watermark="2 hours",
        )
        assert partials.isStreaming
        q = (
            partials.writeStream.format("memory").queryName("mixp")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        emitted = spark.sql(
            "select * from mixp where window_start = '2024-01-01 00:00:00'"
        )
        weights = {
            r["source"]: r
            for r in mixture_from_partials(
                emitted, group_cols=("window_start", "window_end")
            ).collect()
        }
        # batch twin over the same hour-0 rows
        batch_rows = [
            (r["source"], r["score_q"], r["ntok"]) for r in rows[:4]
        ]
        batch = {
            r["source"]: r
            for r in mixture_reweight(
                spark.createDataFrame(
                    batch_rows, "source string, score_q long, ntok long"
                ),
                score_col="score_q",
                token_col="ntok",
            ).collect()
        }
        for s in ("A", "B"):
            for c in ("docs", "tokens", "mean_score_q", "base_ppm",
                      "mult_ppm", "weight_ppm"):
                assert weights[s][c] == batch[s][c], (s, c)

    def test_partials_compose_across_batches(self, spark, tmp_path):
        """Two micro-batches covering one window must finalize to the
        same partials as one batch — exact integer sums compose."""
        import json

        from unstructured_spark.streaming.pipeline import (
            mixture_partials_stream,
        )

        src = tmp_path / "src"
        src.mkdir()
        b1 = [{"ingest_ts": "2024-01-01T00:10:00", "source": "A",
               "score_q": 7, "ntok": 3}]
        b2 = [{"ingest_ts": "2024-01-01T00:50:00", "source": "A",
               "score_q": 5, "ntok": 2},
              {"ingest_ts": "2024-01-01T09:00:00", "source": "A",
               "score_q": 1, "ntok": 1}]
        for name, batch in (("b1.json", b1), ("b2.json", b2)):
            with open(src / name, "w") as f:
                for r in batch:
                    f.write(json.dumps(r) + "\n")
        stream = spark.readStream.schema(
            "ingest_ts timestamp, source string, score_q long, ntok long"
        ).option("maxFilesPerTrigger", 1).json(str(src))
        partials = mixture_partials_stream(
            stream, score_col="score_q", token_col="ntok",
            window="1 hour", watermark="2 hours",
        )
        q = (
            partials.writeStream.format("memory").queryName("mixp2")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        [r] = spark.sql(
            "select * from mixp2 where window_start = '2024-01-01 00:00:00'"
        ).collect()
        assert (r["docs"], r["tokens"], r["_ssum"]) == (2, 5, 12)


class TestSinkColdStartGuard:
    def test_empty_or_absent_dir_is_cold_start(self, spark, tmp_path):
        from unstructured_spark.streaming.pipeline import _sink_has_part_files

        assert not _sink_has_part_files(spark, str(tmp_path / "absent"))
        empty = tmp_path / "empty"
        empty.mkdir()
        assert not _sink_has_part_files(spark, str(empty))
        # non-parquet leftovers (_SUCCESS, temp dirs) still count as
        # cold start — only part- data files prove prior writes
        (empty / "_SUCCESS").write_text("")
        assert not _sink_has_part_files(spark, str(empty))

    def test_part_files_block_offset_reset(self, spark, tmp_path):
        from unstructured_spark.streaming.pipeline import _sink_has_part_files

        sink = tmp_path / "sink"
        nested = sink / "shard_id=0"
        nested.mkdir(parents=True)
        (nested / "part-00000-abc.snappy.parquet").write_bytes(b"x")
        assert _sink_has_part_files(spark, str(sink))
