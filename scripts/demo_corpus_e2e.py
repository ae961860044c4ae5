#!/usr/bin/env python
"""Run the single-job end-to-end pre-training corpus pipeline
(pipelines.pretraining_corpus_e2e) against $SPARK_GRAFT_SF_DIR
(default sf0.1) and print one JSON line with stage counts, total
wall-clock, and the realized exchange/sort counts from the final
physical plan — the numbers SCALING.md records.

    python scripts/demo_corpus_e2e.py
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from unstructured_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="corpus-e2e-demo")
    spark.sparkContext.setLogLevel("ERROR")

    from unstructured_spark.pipelines import pretraining_corpus_e2e

    # the corpus tables store text; the pipeline's front door is the
    # binary-document contract (doc_id, content, path) — same rows a
    # 100 TB run would read via binaryFile/paths_table
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            F.col("doc_id"),
            F.encode("text", "utf-8").alias("content"),
            F.concat(F.lit("doc_"), F.col("doc_id"), F.lit(".txt")).alias("path"),
        )
    )
    n_docs = docs.count()

    t0 = time.perf_counter()
    packed, splits = pretraining_corpus_e2e(docs)
    n_packed = packed.count()
    wall = time.perf_counter() - t0

    split_counts = {
        r["split"]: r["n"]
        for r in splits.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    plan = packed._jdf.queryExecution().executedPlan().toString()
    exchanges = len(re.findall(r"\bExchange\b", plan))
    reused = len(re.findall(r"\bReusedExchange\b", plan))
    sorts = len(re.findall(r"\bSort\b", plan))
    print(
        json.dumps(
            {
                "metric": "corpus_e2e_wall_clock",
                "value": round(wall, 2),
                "unit": "sec",
                "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
                "cpus": spark.sparkContext.defaultParallelism,
                "documents": n_docs,
                "packed_placements": n_packed,
                "splits": split_counts,
                "plan": {
                    "exchanges": exchanges,
                    "reused_exchanges": reused,
                    "sorts": sorts,
                },
            },
            separators=(",", ":"),
        )
    )
    spark.stop()


def main_streaming() -> None:
    """--streaming: the data-loader story end-to-end on a LIVE stream —
    documents arrive in a watched directory, each micro-batch is
    parsed+chunked by the batch ``partition_and_chunk`` (zero-shuffle,
    sort-free in-UDF fold), gated by the broadcast NB model, and
    appended to token-balanced parquet shards whose numbering
    continues across batches (streaming.pipeline.
    stream_to_token_shards). Prints one JSON line with shard stats."""
    import shutil
    import tempfile

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_files = int(os.environ.get("SPARK_GRAFT_STREAM_DOCS", "200"))
    spark = get_spark(app_name="corpus-e2e-stream-demo")
    spark.sparkContext.setLogLevel("ERROR")

    from unstructured_spark.operators.classifier import nb_train
    from unstructured_spark.operators.partition_auto import partition_and_chunk
    from unstructured_spark.streaming.pipeline import (
        read_document_stream,
        stream_to_token_shards,
    )

    work = tempfile.mkdtemp(prefix="stream_demo_")
    in_dir = os.path.join(work, "in")
    os.makedirs(in_dir)
    try:
        # spill a slice of the corpus into the watched directory (the
        # demo's stand-in for a landing zone / object-store prefix)
        rows = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text", "source")
            .limit(n_files)
            .collect()
        )
        for r in rows:
            with open(os.path.join(in_dir, f"doc_{r['doc_id']}.txt"), "w") as f:
                f.write(r["text"] or "")
        # seed model: label a deterministic slice by its source column
        seed = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .filter(F.col("doc_id") % 10 < 3)
            .select("doc_id", "text", F.col("source").alias("label"))
        )
        model = nb_train(seed, buckets=4096, max_tokens=64)
        keep = tuple(
            r["cls"] for r in model.select("cls").distinct().collect()
        ) + ("__unscored__",)

        t0 = time.perf_counter()
        chunks = partition_and_chunk(
            read_document_stream(spark, str(in_dir), max_files_per_trigger=64),
            chunking_strategy="by_title",
            chunk_kwargs={"max_characters": 1000},
        )
        q = stream_to_token_shards(
            chunks,
            model,
            os.path.join(work, "shards"),
            os.path.join(work, "ckpt"),
            tokens_per_shard=2000,
            keep=keep,
            # featurize scoring EXACTLY like training: the model was
            # fit on 64-token heads, so the scorer must hash the same
            max_tokens=64,
            available_now=True,
        )
        q.awaitTermination(600)
        wall = time.perf_counter() - t0
        out = spark.read.parquet(os.path.join(work, "shards"))
        stats = out.agg(
            F.count("*").alias("chunks"),
            F.countDistinct("shard_id").alias("shards"),
            F.sum("n_tokens").alias("tokens"),
        ).collect()[0]
        per_shard = (
            out.groupBy("shard_id").agg(F.sum("n_tokens").alias("t"))
            .agg(F.min("t").alias("mn"), F.max("t").alias("mx"))
            .collect()[0]
        )
        print(
            json.dumps(
                {
                    "metric": "corpus_stream_to_shards_wall_clock",
                    "value": round(wall, 2),
                    "unit": "sec",
                    "documents": n_files,
                    "chunks": stats["chunks"],
                    "shards": stats["shards"],
                    "tokens": int(stats["tokens"]),
                    "shard_tokens_min_max": [int(per_shard["mn"]), int(per_shard["mx"])],
                },
                separators=(",", ":"),
            )
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


def main_governance() -> None:
    """--govern: the release-governance tables a corpus version ships
    with — the per-gate filter-attribution verdict rollup ("WHY was
    each fraction dropped"), the v1→v2 snapshot diff (what moved), and
    the per-source datasheet. One JSON line."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="corpus-governance-demo")
    spark.sparkContext.setLogLevel("ERROR")

    from unstructured_spark.operators.storage import corpus_diff_summary
    from unstructured_spark.operators.text_analysis import corpus_datasheet
    from unstructured_spark.pipelines import filter_attribution

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t0 = time.perf_counter()
    verdicts = {
        r["verdict"]: r["n"]
        for r in filter_attribution(
            docs,
            gopher_kwargs={"min_words": 20, "min_stopwords": 1},
            c4_min_sentences=1,
        )
        .groupBy("verdict")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    # synthetic v2: one slice dropped, one revised — the diff a real
    # release would run against its previous published snapshot
    v2 = docs.filter(F.col("doc_id") % 13 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 3, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    diff = {
        f"{r['source']}/{r['status']}": r["docs"]
        for r in corpus_diff_summary(docs, v2).collect()
    }
    sheet = {
        r["source"]: {"docs": r["docs"], "tokens": r["tokens"]}
        for r in corpus_datasheet(docs, strata=("source",)).select(
            "source", "docs", "tokens"
        ).collect()
    }
    wall = time.perf_counter() - t0
    print(
        json.dumps(
            {
                "metric": "corpus_governance_wall_clock",
                "value": round(wall, 2),
                "unit": "sec",
                "verdicts": verdicts,
                "diff": diff,
                "datasheet": sheet,
            },
            separators=(",", ":"),
            sort_keys=True,
        )
    )
    spark.stop()


def main_release() -> None:
    """--release: the FULL governance chain as one pipeline run
    (pipelines.release_corpus) — attribution → token-budget selection
    → curriculum order → token-balanced, curriculum-monotone,
    Z-ordered shard write → manifest + validation → datasheet (+
    snapshot diff vs the raw corpus as 'v1'). Writes a real release
    tree under a temp dir and prints one JSON line."""
    import shutil
    import tempfile

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="corpus-release-demo")
    spark.sparkContext.setLogLevel("ERROR")

    from unstructured_spark.pipelines import release_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = tempfile.mkdtemp(prefix="corpus_release_")
    try:
        t0 = time.perf_counter()
        summary = release_corpus(
            docs,
            out,
            token_budget=20_000,
            tokens_per_shard=5_000,
            prev=docs,
            gopher_kwargs={"min_words": 20, "min_stopwords": 1},
            c4_min_sentences=1,
        )
        wall = time.perf_counter() - t0
        # the release tree is self-describing: attribution, datasheet,
        # diff, manifest all live next to the shards
        artifacts = sorted(
            p for p in os.listdir(out)
        )
        print(
            json.dumps(
                {
                    "metric": "corpus_release_wall_clock",
                    "value": round(wall, 2),
                    "unit": "sec",
                    "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
                    "artifacts": artifacts,
                    **summary,
                },
                separators=(",", ":"),
                sort_keys=True,
            )
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    if "--streaming" in sys.argv:
        main_streaming()
    elif "--govern" in sys.argv:
        main_governance()
    elif "--release" in sys.argv:
        main_release()
    else:
        main()
