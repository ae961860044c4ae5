#!/usr/bin/env python
"""Measured scaling probe: replicate the sf0.1 documents table K-fold
with per-replica token remapping and time the heavy operator families
at each scale.

Replication scheme: replica ``r`` rewrites every token ``w`` to
``w_r{r}`` and offsets doc ids by ``r * 10^7``. Replicas therefore
share NO tokens — no cross-replica duplicates, fingerprint collisions,
or shared n-grams — so each workload's internal structure (dup rate,
cluster sizes, vocabulary shape per replica) is preserved while rows,
tokens, and vocabulary all scale by exactly K. That makes wall-clock
vs K a fair read of the PLAN's scaling: a near-linear curve means the
shuffles/joins grow with data, not with data².

Non-document tables are symlinked from the source sf dir so any
registered query runs unchanged against the scaled directory.

Usage: python scripts/scale_probe.py [--scales 1,8,64,512] [--iters 2]
Writes one JSON line per (query, scale) to stdout and a summary table
to SCALE_PROBE.json at the repo root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WORK = "/tmp/scale_probe"

# documents-only queries, one per heavy operator family
PROBE_QUERIES = [
    "q_exact_dups",            # corpus groupBy
    "q_minhash_signatures",    # map-heavy signature build
    "q_lsh_candidate_pairs",   # banded self-join
    "q_drop_near_duplicates",  # full one-call dedup (LSH + verify + CC)
    "q_simhash_pairs",         # pigeonhole Hamming self-join
    "q_shared_ngram_spans",    # exact substring dedup (gaps-and-islands)
    "q_token_budget",          # quality quantiles + budgeted selection
    "q_nb_classify",           # classifier train + score
    "q_token_shards",          # distributed prefix sum
    "q_bpe_fertility",         # vocab-bounded Python encoder
    "q_cms_heavy_hitters",     # sketch build + probe
    "q_perplexity_buckets",    # bigram LM + fxln + histogram buckets
    "q_filter_attribution",    # all hygiene gates + dup window, 1 shuffle
    "q_curriculum_order",      # banded prefix-sum global rank
    "q_corpus_diff",           # snapshot diff full-outer join
    "q_dedup_within_doc",      # giant-gated map-side HOF dedup (r10)
    "q_mixture_reweight",      # bigram LM + domain ppm weight chain (r10)
    "q_nb_confusion",          # NB train + corpus score + confusion agg (r10)
    "q_cross_source_dups",     # LSH pair matrix + label joins (r10)
    "q_warc_ingest",           # WARC pack + distributed parse round trip (r11)
]


def build_scaled(spark, k: int) -> str:
    from pyspark.sql import functions as F

    out = os.path.join(WORK, f"x{k}")
    docs_path = os.path.join(out, "documents.parquet")
    if not os.path.exists(docs_path):
        os.makedirs(out, exist_ok=True)
        src = spark.read.parquet(f"{SRC}/documents.parquet")
        # append in bounded union chunks: a k-way union plan is O(k)
        # to analyze, so keep each write's plan small
        chunk = 16
        for lo in range(0, k, chunk):
            parts = []
            for r in range(lo, min(lo + chunk, k)):
                parts.append(
                    src.select(
                        (F.col("doc_id") + r * 10_000_000).alias("doc_id"),
                        F.regexp_replace(
                            F.col("text"), r"(\S+)", rf"$1_r{r}"
                        ).alias("text"),
                        "lang",
                        "source",
                        F.col("n_chars"),
                    )
                )
            u = parts[0]
            for p in parts[1:]:
                u = u.unionByName(p)
            u.repartition(8).write.mode("append").parquet(docs_path)
    for t in (
        "region nation customer supplier part orders lineitem events "
        "embeddings"
    ).split():
        link = os.path.join(out, f"{t}.parquet")
        if not os.path.exists(link):
            os.symlink(f"{SRC}/{t}.parquet", link)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="1,8,64,512")
    ap.add_argument("--iters", type=int, default=2)
    ap.add_argument("--queries", default=",".join(PROBE_QUERIES))
    ap.add_argument("--fresh", action="store_true")
    ap.add_argument(
        "--partitions",
        default=None,
        help="override spark.sql.shuffle.partitions (default: cpu count; "
        "a real cluster scales this with data — use it to check whether "
        "a superlinear cell is a pinned-partition artifact)",
    )
    args = ap.parse_args()
    scales = [int(s) for s in args.scales.split(",")]
    names = args.queries.split(",")

    if args.fresh and os.path.exists(WORK):
        shutil.rmtree(WORK)

    from unstructured_spark.session import get_spark

    spark = get_spark(
        app_name="scale-probe",
        shuffle_partitions=args.partitions and int(args.partitions),
        extra_conf={"spark.driver.memory": "48g"},
    )
    cpus = str(spark.sparkContext.defaultParallelism)

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    dirs = {k: build_scaled(spark, k) for k in scales}
    # absorb JVM/codegen startup so the first timed cell isn't inflated
    qs[names[0]](spark, dirs[scales[0]]).count()
    results: dict[str, dict[str, float]] = {}
    for name in names:
        q = qs[name]
        results[name] = {}
        for k in scales:
            ts = []
            for _ in range(max(1, args.iters)):
                t0 = time.perf_counter()
                # noop sink forces EVERY output column; count() would
                # let Catalyst prune expression columns the cardinality
                # doesn't need (see bench.py)
                q(spark, dirs[k]).write.format("noop").mode(
                    "overwrite"
                ).save()
                ts.append(time.perf_counter() - t0)
            med = sorted(ts)[len(ts) // 2]
            results[name][str(k)] = round(med, 3)
            print(
                json.dumps({"query": name, "scale": k, "sec": round(med, 3)}),
                flush=True,
            )
    # MERGE into any existing record: a targeted probe run (--queries)
    # must not wipe the accumulated sweep other rounds reference
    out_path = os.path.join(REPO, "SCALE_PROBE.json")
    summary = {"src": SRC, "cpus": cpus, "scales": scales, "results": results}
    if os.path.exists(out_path):
        try:
            with open(out_path) as f:
                prior = json.load(f)
            merged = prior.get("results", {})
            for qname, vals in results.items():
                merged.setdefault(qname, {}).update(vals)
            prior["results"] = merged
            prior["src"] = SRC
            prior["cpus"] = cpus
            prior["scales"] = sorted(
                set(prior.get("scales", [])) | set(scales)
            )
            summary = prior
        except (json.JSONDecodeError, OSError):
            pass
    with open(out_path, "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
    print(json.dumps({"wrote": "SCALE_PROBE.json"}))


if __name__ == "__main__":
    main()
