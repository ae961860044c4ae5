"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` — one entry per implemented operator from SURVEY.md §2
(relational surface §2.10 + beyond-reference pipeline operators:
dedup, similarity search, text analysis, chunking).
``oracle_sql()`` — the DuckDB-equivalent ANSI SQL for each query.

Each query is one row of the ``entry_queries`` package: a builder in
its family module, decorated with the oracle it must match. Column
names and types are aligned between both sides (the driver's compare
sorts columns by name and hashes values). Hashing used by dedup/minhash
operators is md5-based specifically so both engines compute identical
signatures (see unstructured_spark/operators/dedup.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from entry_queries import ROWS
from entry_queries.common import TABLES, _t  # noqa: F401 (contract)
from unstructured_spark.operators import dedup, text_analysis

SF_DEFAULT = "/root/testdata/sf0.001"

# The external correctness window: the first 50 names of queries(),
# in this order. Rotation:
#   slots 1-3: the crawl chain, the three queries with no external
#     green yet;
#   slots 4-49: the complete r10-floor cohort (46 entries), so no
#     registry entry's last external green is older than r11;
#   slot 50: q_ngram_jaccard_dups, whose minhash+shingle staged-
#     projection rewrite re-proves hash stability externally.
WINDOW = (
    # slots 1-3
    "q_crawl_e2e",
    "q_page_metadata",
    "q_robots_filter",
    # slots 4-49
    "q_dedup_paragraphs", "q_unigram_entropy", "q_interleave_sources",
    "q_bloom_dedup_gate", "q_token_budget", "q_quality_cutoff",
    "q_corpus_shuffle", "q_ann_recall", "q_datasheet", "q_cluster_balance",
    "q_zorder_key", "q_length_quantiles", "q_quality_quantiles",
    "q_ngram_diversity", "q_bloom_merge", "q_bpe_fertility",
    "q_cms_heavy_hitters", "q_filter_attribution", "q_curriculum_order",
    "q_corpus_diff", "q_remove_shared_spans", "q_partition_elements",
    "q_chunk_by_title", "q_layout_merge", "q_table_eval", "q_form_kv_pairs",
    "q_asof_join", "q_doc_stats", "q_exact_dups", "q04_order_priority_check",
    "q_bm25_search", "q_form_kv_text", "q_funnel", "q_funnel_summary",
    "q_gopher_quality", "q_hybrid_rrf", "q_image_dhash_pairs",
    "q_leakage_split", "q_ngram_repetition", "q_overlap_audit",
    "q_pack_sequences", "q_readability", "q_srp_ann_topk",
    "q_stratified_sample", "q_temperature_mix", "q_token_kl_drift",
    # slot 50
    "q_ngram_jaccard_dups",
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the documents pipeline — per-doc text analysis enriched
    with exact-dup groups and near-dup candidates."""
    sf = SF_DEFAULT
    docs = _t(spark, sf, "documents")
    stats = text_analysis.doc_stats(docs)
    dups = dedup.exact_duplicates(docs).select(
        F.col("fingerprint"), F.col("dup_count")
    )
    pairs = dedup.lsh_candidate_pairs(docs)
    pair_counts = (
        pairs.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("near_dup_candidates"))
    )
    return (
        stats.join(dups, "fingerprint", "left")
        .join(pair_counts, "doc_id", "left")
        .fillna({"near_dup_candidates": 0})
        .select(
            "doc_id",
            "token_count",
            "char_count",
            "unique_token_ratio",
            "quality_score",
            "fingerprint",
            "dup_count",
            "near_dup_candidates",
        )
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The window in order, then every other row in registration order."""
    tail = [name for name in ROWS if name not in WINDOW]
    return {name: ROWS[name].build for name in (*WINDOW, *tail)}


def oracle_sql() -> dict[str, str]:
    return {name: row.oracle for name, row in ROWS.items()}
