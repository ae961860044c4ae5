"""Text-analysis operators for large-scale training-data pipelines.

Beyond-reference surface (BASELINE.json north star): language ID,
quality scoring, token counting, document fingerprinting. All native
column expressions — no Python per row — so the whole pass is one
codegen stage over the documents table and scales to 100 TB by scan
parallelism alone (no shuffle at all for the per-doc scores).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Common English stopwords used for quality scoring.
STOPWORDS = (
    "the a an and or of to in is are was were for with on at by from that "
    "this it as be been has have had not but"
).split()


def tokens(col: Column) -> Column:
    """Whitespace tokenization — the baseline tokenizer."""
    return F.split(F.trim(col), "\\s+")


def ntok_expr(text: str = "text") -> Column:
    """Whitespace token count of a (possibly NULL) text column, as a
    BIGINT column. The ONE definition of "how many tokens does this
    document have" shared by every operator that prices documents in
    tokens — shard assignment, dataset manifest/validate, datasheet,
    length quantiles, streaming corpus stats — so a tokenization tweak
    can never leave two operators disagreeing about corpus size.

    DuckDB oracle equivalent (parity-pinned by the registered queries):
    ``cast(len(list_filter(string_split_regex(trim(coalesce(text,'')),
    '\\s+'), w -> w != '')) as bigint)``.
    """
    return F.expr(
        f"cast(size(filter(split(trim(coalesce({text}, '')), '\\\\s+'),"
        " w -> w != '')) as bigint)"
    )


# ---------------------------------------------------------------------------
# Fixed-point integer logarithm — the cross-engine determinism primitive.
#
# ln() from libm differs by 1 ulp across platforms/engines, which is enough
# to flip a floor(x + 0.5) grid cell and hash-split Spark vs an external
# oracle (the q_perplexity_buckets driver-red of rounds 5-7). When the log's
# argument is an INTEGER (smoothed-count LMs: -ln P = ln(c1+V) - ln(c12+1)),
# the log can instead be computed in pure 64-bit integer arithmetic that
# both engines evaluate bit-identically:
#
#   m = 2^k · x,  x ∈ [1, 2)   (k via the binary digit count, no libm)
#   X = round-down fixed-point x at scale S = 2^31
#   z = (x-1)/(x+1) ∈ [0, 1/3] → ln x = 2·atanh(z) = 2·Σ z^(2i+1)/(2i+1)
#   ln m ≈ k·round(ln2·S) + 2·Σ T_i,  T_i chained as (T·z²)/S in BIGINT
#
# Ten series terms give |error| < 6e-9 in ln (z² ≤ 1/9 decay), far inside
# the 1e-6 output grid; every step is integer mul / truncating int-div, so
# Spark and DuckDB produce the SAME bigint — determinism by construction,
# not by probability. Emitted as SQL text so one generator serves both the
# Spark plan (F.expr, whole-stage codegen) and the DuckDB oracle replay;
# the only dialect split is the integer-division operator (`div` vs `//`),
# which both truncate toward zero.
# ---------------------------------------------------------------------------

FXLN_SCALE = 2147483648  # 2^31
FXLN_HALF = 1073741824  # 2^30, the HALF_UP offset at scale
_FXLN_LN2 = 1488522236  # round(ln(2) · 2^31)


def fxln_steps(m: str, prefix: str, idiv: str) -> list[tuple[str, str]]:
    """Emit ``(column_name, sql_expr)`` steps computing the fixed-point
    ``ln(m)·2^31`` as chained integer expressions for BIGINT ``m >= 1``.

    ``m`` is a SQL expression string, ``prefix`` namespaces the
    intermediate columns, ``idiv`` is the dialect's truncating integer
    division (Spark ``div``, DuckDB ``//``). Steps reference earlier
    steps by name: apply as chained projections (Spark ``withColumn``)
    or a lateral-alias SELECT list (DuckDB). Final column: ``{prefix}ln``.
    """
    S = FXLN_SCALE
    p = prefix
    steps = [
        # k = floor(log2 m) from the binary digit count — no libm
        (f"{p}k", f"length(bin({m})) - 1"),
        # X = floor(m · S / 2^k) ∈ [S, 2S) without overflow either side
        (
            f"{p}x",
            f"case when {p}k <= 31 then {m} * (cast(1 as bigint) << (31 - {p}k)) "
            f"else {m} {idiv} (cast(1 as bigint) << ({p}k - 31)) end",
        ),
        # z = (x-1)/(x+1) at scale: (X-S)·S fits — X-S < S = 2^31
        (f"{p}z", f"(({p}x - {S}) * {S}) {idiv} ({p}x + {S})"),
        (f"{p}z2", f"({p}z * {p}z) {idiv} {S}"),
    ]
    prev = f"{p}z"
    for d in (3, 5, 7, 9, 11, 13, 15, 17, 19):
        steps.append((f"{p}t{d}", f"({prev} * {p}z2) {idiv} {S}"))
        prev = f"{p}t{d}"
    series = " + ".join(f"{p}t{d} {idiv} {d}" for d in (3, 5, 7, 9, 11, 13, 15, 17, 19))
    steps.append(
        (f"{p}ln", f"cast({p}k as bigint) * {_FXLN_LN2} + 2 * ({p}z + {series})")
    )
    return steps


def fxln_int(m: int) -> int:
    """Driver-side twin of ``fxln_steps`` in plain Python ints — for
    literals (e.g. the corpus size N) that both engines must share as
    the SAME bigint. Bit-for-bit the SQL chain (pinned by
    tests/test_fxln.py)."""
    S = FXLN_SCALE
    k = m.bit_length() - 1
    x = m << (31 - k) if k <= 31 else m >> (k - 31)
    z = ((x - S) * S) // (x + S)
    z2 = (z * z) // S
    t, total = z, 0
    for d in (3, 5, 7, 9, 11, 13, 15, 17, 19):
        t = (t * z2) // S
        total += t // d
    return k * _FXLN_LN2 + 2 * (z + total)


def fxln_select_sql(m: str, prefix: str, idiv: str = "//") -> str:
    """The ``fxln_steps`` chain as one SELECT-list fragment relying on
    lateral column aliases (DuckDB + Spark both resolve them)."""
    return ",\n".join(f"{expr} as {name}" for name, expr in fxln_steps(m, prefix, idiv))


def with_fxln(df: DataFrame, m: str, prefix: str) -> DataFrame:
    """Append the fixed-point ``ln`` chain for column-expression ``m``
    to ``df`` in ONE SELECT using lateral column aliases (each step
    references earlier aliases in the same list — Spark 3.4+ resolves
    them natively). A chained-``withColumn`` form nests one Project per
    step; at two 13-step chains per caller that plan depth dominated
    toy-scale wall time through repeated analysis, not execution."""
    cols = [F.col(c) for c in df.columns]
    cols += [F.expr(expr).alias(name) for name, expr in fxln_steps(m, prefix, "div")]
    return df.select(*cols)


def bpe_ish_tokens(col: Column) -> Column:
    """A BPE-ish regex tokenization: word pieces, numbers, punctuation
    runs (approximates GPT-2's pre-tokenizer split)."""
    return F.regexp_extract_all(
        col, F.lit(r"('s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+)"), 1
    )


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def char_count(col: Column) -> Column:
    return F.length(col)


def unique_token_ratio(col: Column) -> Column:
    t = tokens(col)
    return F.size(F.array_distinct(t)) / F.size(t)


def mean_word_length(col: Column) -> Column:
    t = tokens(col)
    return F.aggregate(
        t, F.lit(0).cast("double"), lambda acc, w: acc + F.length(w)
    ) / F.size(t)


def stopword_ratio(col: Column) -> Column:
    t = F.transform(tokens(col), lambda w: F.lower(w))
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    hits = F.size(F.filter(t, lambda w: F.array_contains(sw, w)))
    return hits / F.size(t)


def punctuation_ratio(col: Column) -> Column:
    return F.length(F.regexp_replace(col, "[^.,;:!?'\"()-]", "")) / F.length(col)


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: rewards stopword presence,
    healthy mean word length (3-10 chars), and token diversity —
    the standard C4/Gopher-style filters reduced to a score.
    """
    swr = stopword_ratio(col)
    mwl = mean_word_length(col)
    utr = unique_token_ratio(col)
    mwl_ok = F.when((mwl >= 3) & (mwl <= 10), F.lit(1.0)).otherwise(F.lit(0.0))
    swr_ok = F.least(swr * F.lit(5.0), F.lit(1.0))
    return F.round((mwl_ok + swr_ok + utr) / F.lit(3.0), 6)


def with_quality_q(
    df: DataFrame, text: str = "text", out: str = "quality_q"
) -> DataFrame:
    """Append an INTEGER quality ordering key in [0, 3_000_000]: the
    :func:`quality_score` heuristic with every ratio replaced by an
    exact BIGINT floor-division, so aggregate-driven *selections*
    (token budgets, top-fraction cuts) can never flip a boundary row
    cross-engine — there is no float anywhere in the key. Terms:
    mean-word-length window as an integer interval test
    (3n <= sum_len <= 10n), stopword term least(5e6*stops div n, 1e6),
    diversity term 1e6*distinct div n. One SELECT via lateral column
    aliases; the token array is built once. Reference quality signals:
    unstructured/metrics/text_extraction.py and the C4/Gopher filters
    (quality_filters.py); the integer form is this repo's
    cross-engine-determinism discipline (see fxln_steps above).
    """
    sw = "array(" + ",".join(f"'{s}'" for s in STOPWORDS) + ")"
    steps = [
        ("_qt", f"split(trim(coalesce({text}, ''))" + r", '\\s+')"),
        ("_qn", "cast(size(_qt) as bigint)"),
        ("_qsum", "aggregate(_qt, 0L, (a, w) -> a + length(w))"),
        ("_qdis", "cast(size(array_distinct(_qt)) as bigint)"),
        (
            "_qstop",
            f"cast(size(filter(_qt, w -> array_contains({sw}, lower(w))))"
            " as bigint)",
        ),
        (
            out,
            # empty/whitespace-only text scores 0 outright: the split
            # of '' is [''], whose diversity term (1e6*1 div 1) would
            # otherwise rank an EMPTY document above mediocre real ones
            f"case when trim(coalesce({text}, '')) = '' then 0L else"
            " (case when _qsum between 3 * _qn and 10 * _qn"
            " then 1000000L else 0L end)"
            " + least((5000000L * _qstop) div _qn, 1000000L)"
            " + (1000000L * _qdis) div _qn end",
        ),
    ]
    cols = [F.col(c) for c in df.columns]
    laterals = [F.expr(e).alias(n) for n, e in steps]
    return df.select(*cols, *laterals).drop(
        "_qt", "_qn", "_qsum", "_qdis", "_qstop"
    )


def quality_q_sql(text: str = "text") -> str:
    """The DuckDB mirror of :func:`with_quality_q`'s key as one scalar
    expression over a pre-split token list column ``t`` (callers bind
    ``t`` in a WITH step). Same integer floor-divisions — bit-exact."""
    sw = "[" + ",".join(f"'{s}'" for s in STOPWORDS) + "]"
    return (
        # the empty-text zero guard mirrors with_quality_q: split('')
        # is [''] in both engines (DuckDB lists are 1-based)
        "case when len(t) = 1 and t[1] = '' then 0 else"
        " (case when list_aggregate(list_transform(t, w -> length(w)), 'sum')"
        " between 3 * len(t) and 10 * len(t) then 1000000 else 0 end)"
        f" + least((5000000::bigint * len(list_filter(t, w -> list_contains({sw},"
        " lower(w))))) // len(t), 1000000)"
        " + (1000000::bigint * len(list_distinct(t))) // len(t) end"
    )


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of
    whitespace/case-normalized text. Exact-dup key."""
    return F.md5(F.lower(F.trim(F.regexp_replace(col, "\\s+", " "))))


def doc_stats(df: DataFrame, text: str = "text", doc_id: str = "doc_id") -> DataFrame:
    """Per-document stats table: the text-analysis headline operator."""
    c = F.col(text)
    return df.select(
        F.col(doc_id),
        token_count(c).alias("token_count"),
        char_count(c).alias("char_count"),
        F.round(unique_token_ratio(c), 6).alias("unique_token_ratio"),
        F.round(mean_word_length(c), 6).alias("mean_word_length"),
        F.round(stopword_ratio(c), 6).alias("stopword_ratio"),
        quality_score(c).alias("quality_score"),
        fingerprint(c).alias("fingerprint"),
    )


def winnow_fingerprints(
    df: DataFrame,
    *,
    k: int = 5,
    window: int = 4,
    text: str = "text",
    doc_id: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken's
    MOSS scheme): hash every token k-gram, slide a ``window`` over the
    hash sequence, keep each window's minimum — the selected set is a
    position-robust rolling fingerprint (any match of length >=
    k+window-1 tokens shares a fingerprint).

    All array expressions — whole-stage codegen, zero shuffle before
    the final distinct. Each stage (tokens → grams → hashes → window
    minima) is materialized as its own projection: Catalyst does NOT
    eliminate common subexpressions across nested lambda levels, so a
    single fused expression re-evaluates the whole hash array once per
    window position (O(n^3) md5 calls per doc — measured 40s at
    sf0.01; staged projections run the same data in ~1s). Hashes are
    md5-derived so any engine reproduces the exact fingerprint set
    (same idiom as dedup.minhash_signatures).

    Returns (doc_id, fp_hash) — one row per selected distinct hash.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    base = (
        df.repartition(par)
        if df.rdd.getNumPartitions() < par
        else df
    )
    toks = F.filter(
        F.split(
            F.lower(F.trim(F.regexp_replace(F.col(text), "\\s+", " "))), " "
        ),
        lambda t: t != "",
    )
    staged = base.select(
        F.col(doc_id).alias("doc_id"), toks.alias("_t")
    ).filter(F.size("_t") >= k)
    # greatest(...,1) keeps the sequence ascending even if a row slips
    # past the size filter boundary at evaluation time
    staged = staged.select(
        "doc_id",
        F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.size("_t") - F.lit(k) + 1, F.lit(1))
            ),
            lambda i: F.concat_ws(" ", F.slice(F.col("_t"), i, k)),
        ).alias("_g"),
    )
    staged = staged.select(
        "doc_id",
        F.transform(
            F.col("_g"),
            lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast(
                "bigint"
            ),
        ).alias("_h"),
    )
    nh = F.size(F.col("_h"))
    mins = F.when(
        nh >= window,
        F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(nh - F.lit(window) + 1, F.lit(1))
                ),
                lambda i: F.array_min(F.slice(F.col("_h"), i, window)),
            )
        ),
    ).otherwise(F.array(F.array_min(F.col("_h"))))
    return (
        staged.select("doc_id", F.explode(mins).alias("fp_hash")).distinct()
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    *,
    text: str = "text",
    doc_id: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 relevance of every document against a bag of query terms
    (Robertson/Sparck-Jones; the corpus-search / retrieval-filter
    primitive). Returns (doc_id, score) for docs matching >= 1 term.

    Scale shape: ONE corpus aggregate computes the exact integer
    statistics (N, total token count, per-term document frequencies —
    all order-independent longs), which collapse to driver literals;
    the scoring pass is then MAP-ONLY whole-stage codegen: per-term
    tf via a filter over the token array, the BM25 sum as a
    fixed-order expression. Two scans, zero shuffles, no join.

    Determinism: idf = ln((N - df + 0.5)/(df + 0.5) + 1) is computed
    IN-ENGINE from the exact integer stats (the oracle recomputes the
    same integers in SQL and applies its own ln to the identical
    double argument), and the final score rounds to 6 decimals.
    """
    toks = F.split(F.trim(F.col(text)), "\\s+")
    # split('') == [''] — drop empties so a whitespace-only doc has dl=0
    # instead of a phantom token inflating sum_dl/avgdl.
    dl = F.size(F.filter(toks, lambda x: x != F.lit(""))).cast("long")

    def tf(term: str) -> Column:
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    stats_row = df.select(
        F.count("*").alias("n"),
        F.sum(dl).alias("sum_dl"),
        *[
            F.sum((tf(t) > 0).cast("long")).alias(f"df{i}")
            for i, t in enumerate(query_terms)
        ],
    ).collect()[0]
    n = int(stats_row["n"])
    if n == 0 or stats_row["sum_dl"] is None:
        # empty corpus: SUM over zero rows is null — return an empty,
        # correctly-typed result instead of crashing on int(None)
        return df.select(
            F.col(doc_id), F.lit(0.0).alias("score")
        ).limit(0)
    sum_dl = int(stats_row["sum_dl"])
    dfs = [int(stats_row[f"df{i}"]) for i in range(len(query_terms))]

    avgdl = F.lit(float(sum_dl)) / F.lit(float(n))
    dl_d = dl.cast("double")
    score = F.lit(0.0)
    matched = F.lit(0)
    for i, t in enumerate(query_terms):
        idf = F.log(
            (F.lit(float(n - dfs[i]) + 0.5) / F.lit(float(dfs[i]) + 0.5)) + 1
        )
        tf_d = tf(t).cast("double")
        score = score + idf * (
            tf_d * (k1 + 1) / (tf_d + k1 * (1 - b + b * dl_d / avgdl))
        )
        matched = matched + (tf(t) > 0).cast("int")
    return (
        df.select(
            F.col(doc_id),
            F.round(score, 6).alias("score"),
            matched.alias("_m"),
        )
        .filter(F.col("_m") > 0)
        .drop("_m")
    )


def tfidf_top_terms(
    df: DataFrame,
    *,
    text: str = "text",
    doc_id: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Top-k characteristic terms per document by tf·idf (idf =
    ln(N/df), ties → lexicographic term) — the classic corpus-keyword
    primitive. One word-count shuffle on (doc, term), a broadcast-sized
    df join (vocabulary ≪ corpus), and a per-doc top-k window.
    Returns (doc_id, term, tfidf_q, rank) — the score is the exact
    BIGINT ``tf · (fxln(N) − fxln(df))`` in 2^-31 ln units (same
    integer-log discipline as the bigram LM; ln N − ln df has integer
    arguments, so no libm survives in this operator). Overflow-safe at
    any corpus: tf < 2^40 tokens/doc and fxln < 44·2^31 keep the
    product far under 2^63."""
    n = df.count()
    ln_n = fxln_int(int(n)) if n > 0 else 0
    toks = F.explode(F.split(F.trim(F.col(text)), "\\s+")).alias("term")
    tf = (
        df.select(F.col(doc_id).alias("doc"), toks)
        .filter(F.col("term") != "")  # split('') == [''] phantom token
        .groupBy("doc", "term")
        .agg(F.count("*").alias("tf"))
    )
    # tf is one row per (doc, term) by construction, so the document
    # frequency is a plain count(*) — countDistinct(doc) computed the
    # same integer through an extra distinct-aggregate exchange pair
    dfreq = with_fxln(
        tf.groupBy("term").agg(F.count("*").alias("df")),
        "df",
        "_d",
    ).select("term", F.col("_dln").alias("_lndf"))
    scored = tf.join(F.broadcast(dfreq), "term").select(
        F.col("doc").alias(doc_id),
        "term",
        (F.col("tf") * (F.lit(ln_n) - F.col("_lndf")))
        .cast("bigint")
        .alias("tfidf_q"),
    )
    w = Window.partitionBy(doc_id).orderBy(F.desc("tfidf_q"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def readability(
    df: DataFrame, *, text: str = "text", doc_id: str = "doc_id"
) -> DataFrame:
    """Flesch reading-ease per document from deterministic counts:
    words (whitespace tokens), sentences (terminator runs, min 1),
    syllables (vowel-group runs per word, min 1 per word). All native
    regexp counts — zero shuffle, engine-portable. Returns
    (doc_id, words, sentences, syllables, flesch)."""
    t = F.trim(F.col(text))
    # empty-doc guard: split('') == [''], so filter empties and floor the
    # word count at 1 to keep the flesch divisions defined (mirrored in
    # the DuckDB oracle).
    words = F.greatest(
        F.size(F.filter(F.split(t, "\\s+"), lambda x: x != F.lit(""))),
        F.lit(1),
    ).cast("bigint")
    sentences = F.greatest(
        F.regexp_count(t, F.lit(r"[.!?]+")), F.lit(1)
    ).cast("bigint")
    vowel_groups = F.regexp_count(F.lower(t), F.lit(r"[aeiouy]+"))
    # every word counts at least one syllable
    no_vowel_words = F.size(
        F.filter(
            F.split(F.lower(t), "\\s+"),
            lambda x: ~x.rlike("[aeiouy]"),
        )
    )
    syllables = (vowel_groups + no_vowel_words).cast("bigint")
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (words.cast("double") / sentences.cast("double"))
        - F.lit(84.6) * (syllables.cast("double") / words.cast("double"))
    )
    return df.select(
        F.col(doc_id),
        words.alias("words"),
        sentences.alias("sentences"),
        syllables.alias("syllables"),
        F.round(flesch, 4).alias("flesch"),
    )


def bigram_cross_entropy(
    df: DataFrame,
    *,
    text: str = "text",
    doc_id: str = "doc_id",
) -> DataFrame:
    """Per-document corpus-self cross-entropy under an add-one-smoothed
    bigram language model — the CCNet/KenLM-style perplexity filter
    reduced to an in-engine model: documents whose token transitions
    are improbable under the corpus's own bigram statistics (gibberish,
    boilerplate soup, wrong-language shards) score high and get
    filtered before training.

        P(w2|w1) = (C(w1,w2) + 1) / (C(w1) + V)
        score    = avg over bigrams of -ln P, on a 1e-6 grid
                   (per-bigram quantize, integer HALF_UP average)

    Scale shape: one map-side bigram explode, one (w1,w2) count
    shuffle, one (w1) re-shuffle of the TYPE table for the prefix-sum
    window, then a probe join back keyed on the bigram — every shuffle
    keys on uniform token hashes, the corpus text itself is never
    re-shuffled. V and corpus totals are scalar literals. Docs with <2
    tokens are dropped (no bigrams to score).
    """
    toks = F.filter(
        F.split(F.trim(F.col(text)), "\\s+"), lambda x: x != F.lit("")
    )
    # checkpoint the COMPACT tokenized base: the bigram table feeds
    # three consumers (pair counts, prefix counts, the scoring join) —
    # without it each one re-runs scan+tokenize over the corpus (same
    # trade as dedup.shared_ngram_spans: O(docs) pinned, not O(tokens))
    base = (
        df.select(F.col(doc_id).alias("doc"), toks.alias("_t"))
        .filter(F.size("_t") >= 2)
        .localCheckpoint(eager=False)
    )
    bigrams = base.select(
        "doc",
        F.explode(
            F.expr("transform(slice(_t, 1, size(_t) - 1), (x, i) -> struct(x as w1, _t[i + 1] as w2))")
        ).alias("bg"),
    ).select("doc", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    # ONE vocab-sized LM count table (r13: was big_counts + a separate
    # uni_counts built by a groupBy(w1) + a (w1)-keyed sort-merge join
    # back — two extra exchanges, two sorts and one checkpoint
    # materialization job per call): c1 (prefix occurrence count,
    # = Σ_w2 c12) rides a window over the SAME type table the pair
    # counts live in, so the (w1) exchange that used to feed the
    # unigram aggregate now directly produces the joined layout and
    # the big_ln ⋈ uni_ln join disappears. Window sum over exact
    # bigints — identical values to the old groupBy+join by
    # construction. Multiple consumers below (V, the fxln argument
    # union ×2, the scoring probe) — checkpoint lazily so the bigram
    # stream aggregates exactly once.
    bigw = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
        .withColumn(
            "c1", F.sum("c12").over(Window.partitionBy("w1")).cast("bigint")
        )
        .localCheckpoint(eager=False)
    )
    # V = distinct tokens anywhere in the corpus (first AND last
    # positions participate: union of w1 and w2 vocabularies) —
    # computed over the bigram TYPE table, not the occurrence stream
    # (identical set, ~√ the rows), and kept as a broadcast one-row
    # column instead of a driver collect: one fewer corpus-scale
    # action per call
    vdf = (
        bigw.select(F.col("w1").alias("t"))
        .unionByName(bigw.select(F.col("w2").alias("t")))
        .agg(F.countDistinct("t").alias("_v"))
    )
    # -ln P = ln(c1+V) - ln(c12+1): both log arguments are INTEGERS, so
    # the 1e-6-grid quantization runs through the fixed-point integer
    # log (fxln_steps above) instead of libm — Spark and the DuckDB
    # oracle compute bit-identical bigints, closing the r5-r7
    # cross-engine 1-ulp floor(+0.5) flips for good. The log is
    # computed ONCE PER DISTINCT ARGUMENT — the distinct smoothed-count
    # values, a table bounded by the number of distinct count values
    # (O(√tokens) under Zipf: ~3·10⁶ rows even at 10¹³ tokens), far
    # smaller than the bigram stream — then broadcast-joined back, so
    # the per-bigram plan stays exactly as wide as the libm version
    # and the ~30-step fxln expression is analyzed over a tiny side
    # plan instead of riding every downstream consumer.
    args = (
        bigw.crossJoin(F.broadcast(vdf))
        .select((F.col("c1") + F.col("_v")).alias("m"))
        .unionByName(bigw.select((F.col("c12") + F.lit(1)).alias("m")))
        .distinct()
    )
    lns = with_fxln(args, "m", "_f").select(
        "m", F.col("_fln").alias("_ln")
    ).localCheckpoint(eager=False)
    la = F.broadcast(lns.select(F.col("m").alias("_ma"), F.col("_ln").alias("_aln")))
    lb = F.broadcast(lns.select(F.col("m").alias("_mb"), F.col("_ln").alias("_bln")))
    # quantize each -ln P to a 1e-6 grid BEFORE aggregation: long sums
    # are order-independent under distributed partials, where a double
    # sum's rounding depends on partition order (the repo-wide
    # fixed-order-fold discipline; oracle replays the same quantization).
    # HALF_UP on the scale grid: (D·1e6 + 2^30) div 2^31, all integer.
    #
    # -ln P depends only on the bigram TYPE, so the quantized score is
    # computed once per distinct bigram over the unified type table —
    # two broadcast log probes back-to-back on the same map stage (the
    # logs attach to the VOCAB-sized table, never the occurrence
    # stream) — and the occurrence stream then pays ONE (w1,w2) probe
    # join (the r10 form joined the stream against big_ln AND uni_ln;
    # the r11 fold halved the stream-side join width; this r13 form
    # removes the big_ln ⋈ uni_ln type join itself).
    pair_nlq = (
        bigw.crossJoin(F.broadcast(vdf))
        .select(
            "w1",
            "w2",
            (F.col("c12") + F.lit(1)).alias("_mb"),
            (F.col("c1") + F.col("_v")).alias("_ma"),
        )
        .join(lb, "_mb")
        .join(la, "_ma")
        .select(
            "w1",
            "w2",
            F.expr(
                f"((_aln - _bln) * 1000000 + {FXLN_HALF}) div {FXLN_SCALE}"
            ).alias("_nlq"),
        )
    )
    scored = bigrams.join(pair_nlq, ["w1", "w2"]).select("doc", "_nlq")
    # integer HALF_UP average over grid units — (2·sum + n) div (2·n) —
    # then ONE IEEE division by 1e6: no double rounding step at all, so
    # halfway averages (sum/n = k + 0.5 exactly) cannot split between
    # engines the way round(sum/n/1e6, 6) could.
    return scored.groupBy(F.col("doc").alias(doc_id)).agg(
        (
            F.expr("(2 * sum(_nlq) + count(*)) div (2 * count(*))")
            .cast("double")
            / F.lit(1e6)
        ).alias("cross_entropy"),
        F.count("*").cast("bigint").alias("n_bigrams"),
    )


def unigram_entropy(
    df: DataFrame,
    *,
    text: str = "text",
    doc_id: str = "doc_id",
) -> DataFrame:
    """Per-document Shannon entropy of the unigram distribution (nats,
    1e-6 grid) — the compressibility/diversity quality signal: spam
    keyword stuffing and template boilerplate sit far below, and
    random token soup far above, the prose band. The filter DSIR-style
    pipelines apply before perplexity scoring.

        H(d) = ln n − (Σ_t c_t · ln c_t) / n      (n = doc tokens)

    Integer-exact: both log arguments are COUNTS, so every ln runs
    through the fixed-point integer log (``fxln_steps``), evaluated
    once per distinct count value (a table bounded by the largest
    count, O(√tokens) distinct values under Zipf) and broadcast back;
    the per-doc average is the (2·S + n) div (2·n) HALF_UP pattern.
    Both engines replay identical BIGINTs — no libm anywhere.

    Scale shape: explode → (doc, token) count shuffle → per-doc sum
    shuffle; the fxln side table is tiny and broadcast. Docs with zero
    tokens (empty/NULL text) are dropped — entropy of an empty
    distribution is undefined, same drop contract as
    ``bigram_cross_entropy``.

    Returns (doc_id, n_tokens, entropy).
    """
    toks = F.filter(
        F.split(F.trim(F.coalesce(F.col(text), F.lit(""))), "\\s+"),
        lambda x: x != F.lit(""),
    )
    # (doc, count) rows — the token string is spent after the count
    counts = (
        df.select(F.col(doc_id).alias("doc"), F.explode(toks).alias("t"))
        .groupBy("doc", "t")
        .agg(F.count("*").alias("c"))
        .select("doc", "c")
        .localCheckpoint(eager=False)
    )
    # per-doc totals feed BOTH the fxln argument union and the final
    # join — tiny (one row per doc), checkpoint to avoid re-aggregating
    ntots = (
        counts.groupBy("doc")
        .agg(F.sum("c").cast("bigint").alias("n"))
        .localCheckpoint(eager=False)
    )
    args = (
        counts.select(F.col("c").cast("bigint").alias("m"))
        .unionByName(ntots.select(F.col("n").alias("m")))
        .distinct()
    )
    lns = with_fxln(args, "m", "_f").select(
        "m", F.col("_fln").alias("_ln")
    )
    lc = F.broadcast(lns.select(F.col("m").alias("c"), F.col("_ln").alias("_cln")))
    ln_n = F.broadcast(lns.select(F.col("m").alias("n"), F.col("_ln").alias("_nln")))
    s_per_doc = (
        counts.join(lc, "c")
        .groupBy("doc")
        .agg(F.sum(F.col("c") * F.col("_cln")).cast("bigint").alias("_s"))
    )
    return (
        ntots.join(s_per_doc, "doc")
        .join(ln_n, "n")
        .select(
            F.col("doc").alias(doc_id),
            F.col("n").alias("n_tokens"),
            # H·2^31 = ln n − HALF_UP(S / n), then HALF_UP onto the
            # 1e-6 grid; |H·2^31| ≤ ~31·2^31 so the 1e6 product stays
            # far inside BIGINT
            (
                F.expr(
                    f"((_nln - ((2 * _s + n) div (2 * n))) * 1000000 "
                    f"+ {FXLN_HALF}) div {FXLN_SCALE}"
                ).cast("double")
                / F.lit(1e6)
            ).alias("entropy"),
        )
    )


def token_kl_drift(
    df: DataFrame,
    *,
    text: str = "text",
    doc_id: str = "doc_id",
    shard: str = "source",
    max_vocab: int | None = None,
) -> DataFrame:
    """Per-shard KL divergence of the token distribution against the
    whole corpus — the distribution-drift monitor a multi-source
    training pipeline runs before mixing shards:

        p_s(t) = (c_s(t) + 1) / (n_s + V)    (add-one smoothing)
        q(t)   = (c(t) + 1)   / (n + V)
        KL(s)  = round(Σ_{t ∈ corpus vocab} p_s(t) · ln(p_s(t)/q(t)), 6)

    The sum runs over the corpus vocabulary for every shard (absent
    terms contribute the smoothed floor), materialized as shards ×
    vocab: fine while |vocab| × |shards| fits a shuffle (typical
    dedup'd web vocab 10⁷ × tens of sources). Past that, pass
    ``max_vocab=N`` to restrict to the top-N vocabulary by corpus
    frequency (ties broken by token, so the cut is deterministic)
    BEFORE the grid join — counts, totals, V, and both distributions
    are then all taken over the restricted vocabulary, so p_s and q
    stay proper distributions and KL stays >= 0. The top-N cut itself
    plans as TakeOrderedAndProject (per-partition partial top-N), so
    the only driver-side materialization is N rows.
    """
    toks = F.filter(
        F.split(F.trim(F.col(text)), "\\s+"), lambda x: x != F.lit("")
    )
    # compact checkpoint, same rationale as bigram_cross_entropy: four
    # consumers (shard counts, corpus counts, shard totals, the scalar
    # aggregate) otherwise each re-scan + re-tokenize the corpus
    base = df.select(F.col(shard).alias("shard"), toks.alias("_t")).localCheckpoint(
        eager=False
    )
    exploded = base.select("shard", F.explode(F.col("_t")).alias("t"))
    corpus_counts = exploded.groupBy("t").agg(F.count("*").alias("c"))
    if max_vocab is not None:
        # deterministic top-N vocabulary cut; checkpointed so the three
        # consumers (grid, semi-join, totals) don't re-run the top-N
        corpus_counts = (
            corpus_counts.orderBy(F.col("c").desc(), F.col("t").asc())
            .limit(int(max_vocab))
            .localCheckpoint(eager=False)
        )
        exploded = exploded.join(corpus_counts.select("t"), "t", "semi")
    shard_counts = exploded.groupBy("shard", "t").agg(F.count("*").alias("cs"))
    shard_totals = exploded.groupBy("shard").agg(F.count("*").alias("ns"))
    tot_row = exploded.agg(
        F.count("*").alias("n"), F.countDistinct("t").alias("v")
    ).collect()[0]
    n, v = int(tot_row["n"]), int(tot_row["v"])
    # broadcast the TINY side (shard totals — tens of rows), keep the
    # vocabulary-sized corpus counts distributed
    grid = corpus_counts.crossJoin(F.broadcast(shard_totals))
    joined = grid.join(shard_counts, ["shard", "t"], "left").fillna(
        {"cs": 0}
    )
    ps = (F.col("cs") + 1).cast("double") / (F.col("ns") + F.lit(v)).cast("double")
    q = (F.col("c") + 1).cast("double") / F.lit(float(n + v))
    # quantize terms to a 1e-12 grid so the per-shard sum runs over
    # exact longs (order-independent under distributed partials; the
    # oracle replays the identical quantization). Overflow bound:
    # |term| < ~30 → 3e13/long; safe to ~3e5 vocab terms per shard —
    # reduce the scale alongside a top-|V'| vocabulary cut beyond that.
    # True KL >= 0; the quantized sum can land at -epsilon, so clamp
    # before rounding (avoids a cross-engine -0.0 vs 0.0 hash split).
    term_q = F.floor(ps * F.log(ps / q) * F.lit(1e12) + F.lit(0.5)).cast("long")
    return (
        joined.select("shard", term_q.alias("_tq"))
        .groupBy(F.col("shard").alias(shard))
        .agg(
            F.round(
                F.greatest(F.sum("_tq").cast("double") / F.lit(1e12), F.lit(0.0)),
                6,
            ).alias("kl_divergence")
        )
    )


def perplexity_buckets(
    df: DataFrame,
    *,
    buckets: int = 3,
    text: str = "text",
    doc_id: str = "doc_id",
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020: head /
    middle / tail thirds by LM perplexity): score each doc with the
    corpus bigram-LM cross-entropy, then assign rank-quantile buckets
    1..``buckets`` (1 = lowest perplexity = "head").

    Exact and engine-portable where a percentile threshold wouldn't
    be: scores are quantized to the 1e-6 grid they were rounded to,
    the distinct-value histogram is cumulated, and bucket =
    ``(docs_strictly_below * buckets) div n + 1`` (capped) — ties
    share a value so they share a bucket, and the arithmetic is all
    integer.

    Scale shape: NO global sort. The cumulative count over distinct
    quantized scores runs as a distributed prefix sum (the
    ``pack_sequences`` block-totals pattern): per-block count totals
    (block = score div 65536 — the histogram is grid-bounded to
    <= 3·10⁷ distinct values, so <= ~460 blocks), exclusive block
    offsets via a window over that tiny table, broadcast back and
    added to the within-block cumulative window. Everything per-doc
    is a hash join on the quantized score.
    """
    if buckets < 2:
        raise ValueError("buckets must be >= 2")
    ce = bigram_cross_entropy(df, text=text, doc_id=doc_id)
    # checkpointed: three consumers (the eager count, the histogram
    # branch, and the final join probe) would otherwise each re-run the
    # whole bigram-LM aggregation
    scored = ce.withColumn(
        "_q", F.round(F.col("cross_entropy") * 1e6).cast("long")
    ).localCheckpoint(eager=False)
    hist = scored.groupBy("_q").agg(F.count("*").alias("_cnt"))
    # distributed prefix sum over the histogram: -ln P >= 0 so _q >= 0
    # and block ids order exactly like the scores they contain
    blocks = hist.groupBy(F.expr("_q div 65536").alias("_blk")).agg(
        F.sum("_cnt").alias("_bn")
    )
    # n (total docs) rides the same tiny blocks table as an
    # unbounded-window sum instead of a separate scored.count() — one
    # fewer corpus-scale driver action per call, identical value
    wb = Window.orderBy("_blk").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.orderBy("_blk").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = blocks.withColumn(
        "_boff", F.coalesce(F.sum("_bn").over(wb), F.lit(0))
    ).withColumn("_n", F.sum("_bn").over(wall))
    wd = (
        Window.partitionBy("_blk")
        .orderBy("_q")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    mapping = (
        hist.withColumn("_blk", F.expr("_q div 65536"))
        .join(F.broadcast(offsets.select("_blk", "_boff", "_n")), "_blk")
        .withColumn(
            "_below",
            F.col("_boff") + F.coalesce(F.sum("_cnt").over(wd), F.lit(0)),
        )
        .select(
            "_q",
            F.least(
                F.lit(buckets).cast("bigint"),
                F.expr(f"(_below * {int(buckets)}) div _n") + 1,
            ).alias("bucket"),
        )
    )
    return (
        scored.join(mapping, "_q")
        .select(doc_id, "cross_entropy", "n_bigrams", "bucket")
    )


def dsir_importance(
    corpus: DataFrame,
    target: DataFrame,
    *,
    buckets: int = 8192,
    text: str = "text",
    doc_id: str = "doc_id",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): hash unigram+bigram
    features into ``buckets`` via md5, fit add-one-smoothed bag-of-
    ngrams distributions over the hash buckets for the TARGET sample
    and the RAW corpus, and score every corpus doc with

        log w(d) = Σ_f c_d(f) · (ln p_target(f) − ln p_raw(f))

    Docs that look like the target get positive log-weights; feed the
    result to ``sampling.weighted_sample(weight_col='weight')`` for
    the resampling step.

    Scale shape: both distributions reduce to ``buckets`` rows and
    broadcast; the scoring pass is explode → broadcast join → one
    groupBy(doc_id) — a single corpus shuffle on uniform doc keys.
    Determinism: md5 bucket hashing, per-feature log-ratios quantized
    to 1e-9 longs before the distributed sum (order-independent), the
    final log-weight rounded to 6dp — the oracle replays every step.

    Returns (doc_id, n_features, log_weight, weight).
    """

    def feats(toks: Column) -> Column:
        # toks must be a plain column reference: Catalyst does not CSE
        # across lambda levels, so an inline split would re-tokenize
        # once per bigram (same pitfall staged in winnow_fingerprints)
        grams = F.when(
            F.size(toks) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(toks) - 1, F.lit(1))),
                lambda i: F.concat_ws(
                    "_", F.element_at(toks, i), F.element_at(toks, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.concat(toks, grams)

    def bucket(g: Column) -> Column:
        return (
            F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("bigint")
            % F.lit(int(buckets))
        )

    def buckets_of(df: DataFrame) -> DataFrame:
        # tokenized+hashed ONCE, checkpointed: three consumers (counts,
        # totals, scoring) would otherwise each re-run the md5 explode
        toks = F.filter(
            F.split(F.trim(F.col(text)), "\\s+"), lambda x: x != F.lit("")
        )
        return (
            df.select(F.col(doc_id).alias("doc_id"), toks.alias("_t"))
            .select("doc_id", F.explode(feats(F.col("_t"))).alias("g"))
            .select("doc_id", bucket(F.col("g")).alias("b"))
            .localCheckpoint(eager=False)
        )

    tgt_ex = buckets_of(target)
    corpus_ex = buckets_of(corpus)
    tgt = tgt_ex.groupBy("b").agg(F.count("*").alias("ct"))
    raw = corpus_ex.groupBy("b").agg(F.count("*").alias("cr"))
    nt = tgt_ex.count()
    nr = corpus_ex.count()
    # full bucket table so absent features still carry the smoothing
    # floor on both sides (B rows — broadcast)
    spark = corpus.sparkSession
    grid = spark.range(int(buckets)).select(F.col("id").alias("b"))
    dist = (
        grid.join(tgt, "b", "left")
        .join(raw, "b", "left")
        .fillna({"ct": 0, "cr": 0})
        .select(
            "b",
            F.floor(
                (
                    F.log((F.col("ct") + 1).cast("double") / F.lit(float(nt + buckets)))
                    - F.log((F.col("cr") + 1).cast("double") / F.lit(float(nr + buckets)))
                )
                * F.lit(1e9)
                + F.lit(0.5)
            ).cast("long").alias("lrq"),
        )
    )
    scored = (
        corpus_ex
        .join(F.broadcast(dist), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_features"),
            F.sum("lrq").alias("_lw"),
        )
    )
    # floor(x*1e6+0.5)/1e6 in BOTH engines (F.round's decimal HALF_UP
    # differs from it for negative values at exact .5 boundaries)
    lw = (
        F.floor(
            (F.col("_lw").cast("double") / F.lit(1e9)) * F.lit(1e6) + F.lit(0.5)
        )
        / F.lit(1e6)
    )
    return scored.select(
        "doc_id",
        "n_features",
        lw.alias("log_weight"),
        (F.floor(F.exp(lw) * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
            "weight"
        ),
    )


def corpus_datasheet(
    df: DataFrame,
    *,
    strata: tuple[str, ...] = ("source", "lang"),
    text: str = "text",
) -> DataFrame:
    """Datasheet-for-datasets rollup (Gebru et al. 2021): one row per
    stratum with the release-note numbers — document/token/char
    volumes, exact-duplicate rate, and mean quality — so a corpus drop
    ships with its composition table instead of a guess.

    All-integer outputs: dup rate as ppm (1e6*(docs-uniq) div docs),
    mean quality via the HALF_UP integer average ((2*sum+n) div (2n))
    over the :func:`with_quality_q` key. One groupBy over the strata
    (map-side partials) plus the exact distinct-fingerprint count
    (one more shuffle on (strata, fp) — approx_count_distinct would
    be cheaper but breaks replay determinism; at 100 TB swap in a
    datasketches rollup consciously, not silently).
    """
    # private output name: the input may already carry a caller-level
    # quality_q column (e.g. a released shard tree written by
    # pipelines.release_corpus) — appending a second would make every
    # reference ambiguous
    d = with_quality_q(df, text=text, out="_ds_quality_q")
    ntok = ntok_expr(text)
    keys = [F.col(c) for c in strata]
    return (
        d.select(
            *keys,
            ntok.alias("_n"),
            F.length(F.coalesce(F.col(text), F.lit(""))).cast("bigint").alias(
                "_c"
            ),
            fingerprint(F.coalesce(F.col(text), F.lit(""))).alias("_fp"),
            F.col("_ds_quality_q").alias("_q"),
        )
        .groupBy(*strata)
        .agg(
            F.count("*").cast("bigint").alias("docs"),
            F.sum("_n").cast("bigint").alias("tokens"),
            F.sum("_c").cast("bigint").alias("chars"),
            F.countDistinct("_fp").cast("bigint").alias("uniq_docs"),
            F.sum("_q").cast("bigint").alias("_qsum"),
        )
        .select(
            *strata,
            "docs",
            "tokens",
            "chars",
            "uniq_docs",
            F.expr("(1000000L * (docs - uniq_docs)) div docs").alias(
                "dup_ppm"
            ),
            F.expr("(2L * _qsum + docs) div (2L * docs)").alias(
                "avg_quality_q"
            ),
        )
    )


def grouped_integer_quantiles(
    df: DataFrame,
    value: Column,
    *,
    strata: str = "source",
    probs: tuple[int, ...] = (25, 50, 75, 95),
    suffix: str = "",
) -> DataFrame:
    """Exact per-stratum DISCRETE lower quantiles of any integer
    expression: for each percentile p, the smallest value whose
    cumulative row count reaches rank ceil(p*n/100). Integer test
    throughout (100*cum >= p*n — no float percentile interpolation),
    so the values replay exactly in any engine.

    Scale shape: aggregate-only — counts per (strata, value) LEVEL
    (bounded by the value's distinct-cardinality, not the corpus), a
    cumulative window over that tiny level table, then one min-CASE
    rollup per percentile. No per-row window, no sort of the corpus;
    the heavy stage is the first groupBy with map-side partials.

    Output columns: ``docs`` + one ``p{p}{suffix}`` per percentile.
    """
    lv = (
        df.select(F.col(strata), value.cast("bigint").alias("_len"))
        .groupBy(strata, "_len")
        .agg(F.count("*").cast("bigint").alias("_c"))
    )
    w = (
        Window.partitionBy(strata)
        .orderBy("_len")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy(strata)
    cum = lv.select(
        strata,
        "_len",
        F.sum("_c").over(w).cast("bigint").alias("_cum"),
        F.sum("_c").over(wall).cast("bigint").alias("_n"),
    )
    aggs = [F.max("_n").alias("docs")] + [
        F.min(
            F.when(
                F.lit(100) * F.col("_cum") >= F.lit(int(p)) * F.col("_n"),
                F.col("_len"),
            )
        ).alias(f"p{p}{suffix}")
        for p in probs
    ]
    return cum.groupBy(strata).agg(*aggs)


def token_length_quantiles(
    df: DataFrame,
    *,
    strata: str = "source",
    text: str = "text",
    probs: tuple[int, ...] = (25, 50, 75, 95),
) -> DataFrame:
    """Exact per-stratum token-length quantiles (the release-table
    companion to :func:`corpus_datasheet`) — the whitespace token
    count run through :func:`grouped_integer_quantiles`. Same exact
    rank semantics; columns ``docs`` + ``p{p}_tokens``.
    """
    ntok = ntok_expr(text)
    return grouped_integer_quantiles(
        df, ntok, strata=strata, probs=probs, suffix="_tokens"
    )


def ngram_diversity(
    df: DataFrame,
    *,
    n: int = 3,
    strata: str = "source",
    text: str = "text",
) -> DataFrame:
    """Per-stratum n-gram diversity: distinct n-grams as integer ppm of
    total n-gram positions — the type-token ratio lifted to n-grams.
    Low values expose template-generated or heavily boilerplated
    sources (few patterns, endlessly repeated) that per-document
    quality scores miss because every individual document looks fine.
    The curation companion to the repetition metrics in
    quality_filters (those are within-document; this is ACROSS the
    stratum).

    Scale shape: one strata aggregate for position totals (map-side
    partials) + one explode→distinct count keyed on (strata, gram) —
    both shuffles on uniform keys; nothing all-pairs. All-integer
    output (1e6*distinct div total, 0 when a stratum has no grams).
    """
    from unstructured_spark.operators.dedup import shingles_from_tokens

    c = F.coalesce(F.col(text), F.lit(""))
    toks = F.split(F.trim(c), "\\s+")
    npos = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0)).cast("bigint")
    tot = (
        df.select(F.col(strata), npos.alias("_np"))
        .groupBy(strata)
        .agg(F.sum("_np").cast("bigint").alias("total_grams"))
    )
    # explode_OUTER so no inferred size>0 filter evaluates the shingle
    # expression a second time; countDistinct ignores the null rows
    # outer emits for empty arrays
    dis = (
        df.select(
            F.col(strata),
            F.explode_outer(shingles_from_tokens(toks, n)).alias("_g"),
        )
        .groupBy(strata)
        .agg(F.countDistinct("_g").cast("bigint").alias("distinct_grams"))
    )
    return tot.join(dis, strata, "left").select(
        strata,
        "total_grams",
        F.coalesce(F.col("distinct_grams"), F.lit(0).cast("bigint")).alias(
            "distinct_grams"
        ),
        F.expr(
            "case when total_grams = 0 then 0L else"
            " (1000000L * coalesce(distinct_grams, 0L)) div total_grams end"
        ).alias("diversity_ppm"),
    )
