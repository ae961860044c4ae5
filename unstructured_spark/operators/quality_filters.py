"""Training-data quality + repetition filters (Gopher / C4 style).

Document-quality gates every large-scale LLM-data pipeline applies
before training: the repetition-ratio family of Gopher (Rae et al.
2021, "Scaling Language Models", Table A1) and the heuristic line/doc
filters of C4 (Raffel et al. 2020, §2.2). These sit beside the
``text_analysis`` stats as first-class corpus operators over the
``documents`` table.

Scale design:
- line/paragraph repetition and all Gopher doc-stats are pure array
  expressions over each row — zero shuffle, whole-stage codegen,
  scales by scan parallelism alone.
- n-gram repetition needs a per-(doc, gram) count, which is a real
  aggregation: explode → two-level groupBy with map-side partial
  aggregation. Both shuffles key on doc_id(+gram) — uniform keys, no
  skew. At 100 TB this is the same shape as a word-count, the single
  most-optimized workload Spark has.
- every stat funnels to one row per document, so the filter join back
  to the corpus is a broadcast at any realistic selectivity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from unstructured_spark.operators.dedup import ngrams_from_tokens

# Gopher's "stop word presence" list (minimal English function words).
STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with", "a", "in", "it", "on")

_WS = r"\s+"


def _words(col: Column) -> Column:
    return F.filter(F.split(F.trim(col), _WS), lambda w: w != F.lit(""))


def _lines(col: Column) -> Column:
    return F.filter(
        F.transform(F.split(col, r"\n"), lambda l: F.trim(l)),
        lambda l: l != F.lit(""),
    )


def _paragraphs(col: Column) -> Column:
    return F.filter(
        F.transform(F.split(col, r"\n\s*\n"), lambda p: F.trim(p)),
        lambda p: p != F.lit(""),
    )


def _char_len(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0), lambda acc, x: acc + F.length(x))


def _dup_frac(arr: Column) -> Column:
    """1 - distinct/total: fraction of items that repeat an earlier one."""
    n = F.size(arr)
    return F.when(n > 0, 1.0 - F.size(F.array_distinct(arr)) / n).otherwise(F.lit(0.0))


def _dup_char_frac(arr: Column) -> Column:
    """Fraction of characters inside duplicate occurrences (chars beyond
    the first occurrence of each distinct item — Gopher's duplicate
    line/paragraph *character* fraction)."""
    total = _char_len(arr)
    return F.when(
        total > 0, (total - _char_len(F.array_distinct(arr))) / total
    ).otherwise(F.lit(0.0))


def line_repetition_exprs(text: str = "text") -> dict[str, Column]:
    """Gopher duplicate line/paragraph ratios as native zero-shuffle
    columns: ``df.select("doc_id", **line_repetition_exprs())`` style
    via ``[c.alias(n) for n, c in ...]``."""
    t = F.col(text)
    lines, paras = _lines(t), _paragraphs(t)
    return {
        "line_count": F.size(lines),
        "dup_line_frac": _dup_frac(lines),
        "dup_line_char_frac": _dup_char_frac(lines),
        "dup_para_frac": _dup_frac(paras),
        "dup_para_char_frac": _dup_char_frac(paras),
    }


def gopher_stats_exprs(text: str = "text") -> dict[str, Column]:
    """The Gopher document-quality signals as native columns."""
    t = F.col(text)
    words = _words(t)
    wc = F.size(words)
    lines = _lines(t)
    lc = F.size(lines)
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_count = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, F.lower(w))))
    hash_count = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    ellipsis_count = F.size(F.split(t, r"\.\.\.", -1)) - 1
    return {
        "word_count": wc,
        "mean_word_len": F.when(wc > 0, _char_len(words) / wc).otherwise(F.lit(0.0)),
        "alpha_word_frac": F.when(wc > 0, alpha_words / wc).otherwise(F.lit(0.0)),
        "stopword_count": stop_count,
        "symbol_word_ratio": F.when(wc > 0, (hash_count + ellipsis_count) / wc).otherwise(
            F.lit(0.0)
        ),
        "bullet_line_frac": F.when(
            lc > 0,
            F.size(F.filter(lines, lambda l: l.rlike(r"^[-*•‣⁃]"))) / lc,
        ).otherwise(F.lit(0.0)),
        "ellipsis_line_frac": F.when(
            lc > 0, F.size(F.filter(lines, lambda l: l.rlike(r"\.\.\.$"))) / lc
        ).otherwise(F.lit(0.0)),
    }


def gopher_keep_expr(
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopwords: int = 2,
) -> Column:
    """The Gopher keep/drop rule over columns produced by
    ``gopher_stats_exprs`` (Rae et al. 2021, Table A1 thresholds)."""
    return (
        F.col("word_count").between(min_words, max_words)
        & F.col("mean_word_len").between(min_mean_word_len, max_mean_word_len)
        & (F.col("symbol_word_ratio") <= max_symbol_word_ratio)
        & (F.col("bullet_line_frac") <= max_bullet_line_frac)
        & (F.col("ellipsis_line_frac") <= max_ellipsis_line_frac)
        & (F.col("alpha_word_frac") >= min_alpha_word_frac)
        & (F.col("stopword_count") >= min_stopwords)
    )


def gopher_filter(df: DataFrame, **keep_kwargs) -> DataFrame:
    """Keep the rows of ``df`` whose ``text`` column passes
    ``gopher_keep_expr(**keep_kwargs)``; the stat columns are projected
    once for the filter and dropped again. Zero shuffles."""
    stats = {**gopher_stats_exprs("text"), **line_repetition_exprs("text")}
    with_stats = df.select("*", *[c.alias(n) for n, c in stats.items()])
    return with_stats.filter(gopher_keep_expr(**keep_kwargs)).drop(*stats.keys())


def gopher_quality(df: DataFrame, text: str = "text", doc_id: str = "doc_id") -> DataFrame:
    """Per-document Gopher quality stats + keep flag. Zero shuffles."""
    stats = df.select(
        F.col(doc_id).alias("doc_id"),
        *[c.alias(n) for n, c in gopher_stats_exprs(text).items()],
        *[c.alias(n) for n, c in line_repetition_exprs(text).items()],
    )
    return stats.withColumn("gopher_keep", gopher_keep_expr())


def ngram_repetition(
    df: DataFrame,
    ns: tuple[int, ...] = (2, 5),
    text: str = "text",
    doc_id: str = "doc_id",
) -> DataFrame:
    """Word n-gram repetition stats per document (Gopher Table A1):

    - ``dup_{n}gram_frac``   — fraction of n-gram occurrences whose gram
      occurs more than once in the document;
    - ``top_{n}gram_char_frac`` — chars covered by the single most
      frequent n-gram (count x gram length / doc length).

    Plan: build gram arrays natively (``dedup.ngrams_from_tokens``),
    explode, count per (doc, n, gram) with map-side partials, then
    reduce per doc. Shuffle keys are uniform; word-count-shaped at any
    scale. Zero-gram documents survive via explode_outer (a NULL gram
    row per empty (doc, n) that the aggregates ignore) — r13; the old
    all-docs distinct + left join cost a second corpus scan, a
    distinct exchange and a sort-merge join for the same rows.
    """
    words = _words(F.col(text)).alias("ws")
    base = df.select(
        F.col(doc_id).alias("doc_id"), F.length(F.trim(F.col(text))).alias("text_len"), words
    )
    gram_arrays = base.select(
        "doc_id",
        "text_len",
        *[ngrams_from_tokens(F.col("ws"), n, " ").alias(f"g{n}") for n in ns],
    )
    stacked = gram_arrays.select(
        "doc_id",
        "text_len",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(n).alias("n"), F.col(f"g{n}").alias("grams"))
                    for n in ns
                ]
            )
        ).alias("e"),
    ).select(
        "doc_id",
        "text_len",
        F.col("e.n").alias("n"),
        F.explode_outer("e.grams").alias("gram"),
    )
    counts = stacked.groupBy("doc_id", "text_len", "n", "gram").agg(
        F.count("*").alias("cnt")
    )
    # every (doc, n) group exists (explode_outer keeps a NULL-gram row
    # for docs too short for this n); the aggregates treat that row as
    # zero grams, so total=0 → 0/0 → NULL stats, identical to the
    # missing-group NULLs the old pivot-then-left-join produced
    per_n = counts.groupBy("doc_id", "text_len", "n").agg(
        F.sum(
            F.when(F.col("gram").isNotNull(), F.col("cnt")).otherwise(0)
        ).alias("total"),
        F.count("gram").alias("distinct_grams"),
        F.max(F.col("cnt") * F.length("gram")).alias("top_chars"),
        F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)).alias("dup_occurrences"),
    )
    out = per_n.groupBy("doc_id").pivot("n", list(ns)).agg(
        # nullif: a zero-gram (doc, n) group has total=0 and must yield
        # NULL, not an ANSI DIVIDE_BY_ZERO
        F.round(
            F.first(F.col("dup_occurrences") / F.nullif("total", F.lit(0))), 6
        ).alias("dup_frac"),
        F.round(
            F.first(F.col("top_chars") / F.greatest(F.col("text_len"), F.lit(1))), 6
        ).alias("top_char_frac"),
    )
    renames = {}
    for n in ns:
        renames[f"{n}_dup_frac"] = f"dup_{n}gram_frac"
        renames[f"{n}_top_char_frac"] = f"top_{n}gram_char_frac"
    for old, new in renames.items():
        out = out.withColumnRenamed(old, new)
    # zero-gram documents (too short for even the smallest n) are
    # already present with all-null stats: the explode_outer keeps one
    # NULL-gram row per (doc, n), so no doc is ever lost and no
    # re-scan/join is needed to resurrect them
    return out


# ---------------------------------------------------------------------------
# C4 heuristics (Raffel et al. 2020 §2.2)
# ---------------------------------------------------------------------------

_TERMINAL_PUNCT = r'[.!?"”]$'


def c4_line_keep_expr(line: Column, min_words: int = 3) -> Column:
    """C4's line filter: keep lines ending in terminal punctuation with
    at least ``min_words`` words."""
    return line.rlike(_TERMINAL_PUNCT) & (
        F.size(_words(line)) >= min_words
    )


def c4_doc_keep_expr(text: str = "text", min_sentences: int = 5) -> Column:
    """C4's document-level drops: lorem-ipsum placeholder text, curly
    braces (code), and a minimum sentence count."""
    t = F.col(text)
    sentence_count = F.size(F.filter(F.split(t, r"[.!?]"), lambda s: F.trim(s) != F.lit("")))
    return (
        ~F.lower(t).contains("lorem ipsum")
        & ~t.contains("{")
        & (sentence_count >= min_sentences)
    )


def c4_clean_lines(df: DataFrame, text: str = "text", min_words: int = 3) -> DataFrame:
    """Rewrite each document keeping only C4-passing lines (native:
    array filter + rejoin — zero shuffle)."""
    kept = F.filter(
        _lines(F.col(text)), lambda l: c4_line_keep_expr(l, min_words=min_words)
    )
    return df.withColumn(text, F.array_join(kept, "\n"))
