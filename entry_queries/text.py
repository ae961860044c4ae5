"""Text analysis, dedup, quality filters, tokenizer statistics and corpus
curation over the documents table (north-star operators).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from entry_queries.common import (
    _LSH_PAIRS_CTE,
    _MINHASH_SIG_CTE,
    _NB_RANKED_CTE,
    _NLL_FX_CTE,
    _P_CC,
    _P_EMAIL,
    _P_IP,
    _P_PHONE,
    _P_SSN,
    _QUALITY_NTOK_BASE_SQL,
    _VERIFIED_LABELS_CTE,
    _spread,
    _t,
    query,
)
from unstructured_spark.operators import dedup, text_analysis
from unstructured_spark.operators.sketches import hll_alpha_q20
from unstructured_spark.operators.text_analysis import (
    fxln_int,
    fxln_select_sql,
    quality_q_sql,
)


@query(oracle="""
            select lang,
                   quantile_cont(n_chars, 0.5) as p50,
                   quantile_cont(n_chars, 0.9) as p90,
                   count(*) as n_docs
            from documents group by lang
        """)
def q_doc_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles of document length per language
    (Spark ``percentile`` == DuckDB ``quantile_cont`` bit-for-bit,
    including the linear-interpolation float noise)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.percentile("n_chars", F.lit(0.5)).alias("p50"),
        F.percentile("n_chars", F.lit(0.9)).alias("p90"),
        F.count("*").alias("n_docs"),
    )


@query(oracle="""
            with toks as (
              select doc_id,
                     list_transform(list_distinct(string_split(trim(text), ' ')),
                       t -> cast(('0x' || substr(md5(t),1,15)) as bigint)) as hs
              from documents
            ), fps as (
              select doc_id,
                     cast(list_aggregate(
                       [case when len(list_filter(hs, h -> (h >> b) & 1 = 1)) * 2 > len(hs)
                             then cast(1 as bigint) << b else 0 end
                        for b in range(0, 48)], 'sum') as bigint) as fp
              from toks
            )
            select a.doc_id as doc_a, b.doc_id as doc_b,
                   cast(bit_count(xor(a.fp, b.fp)) as bigint) as hamming
            from fps a join fps b on a.doc_id < b.doc_id
            where bit_count(xor(a.fp, b.fp)) <= 2
        """)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via lossless pigeonhole segment blocking;
    the oracle brute-forces the same Hamming bound over all pairs.
    48-bit fingerprints: 16-bit segments give ~65k blocking buckets,
    keeping the per-bucket self-join near-linear (16-bit fps collide
    so often on same-domain text that candidates explode; 32-bit
    still left ~11-bit segments). For capped-throughput dedup at
    corpus scale pass ``max_bucket_size`` (lossy; see operator doc)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_pairs(docs, bits=48, max_distance=2)


@query(oracle="""
            with toks as (
              select doc_id,
                list_filter(
                  string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '),
                  t -> t <> '') as ts
              from documents
            ), hashes as (
              select doc_id,
                list_transform(
                  list_transform(range(1, greatest(len(ts) - 5 + 1, 1) + 1),
                                 i -> array_to_string(ts[i:i+4], ' ')),
                  g -> cast(('0x' || substr(md5(g), 1, 15)) as bigint)) as hs
              from toks
              where len(ts) >= 5
            ), mins as (
              select doc_id,
                case when len(hs) >= 4
                  then list_transform(range(1, len(hs) - 4 + 2),
                                      i -> list_aggregate(hs[i:i+3], 'min'))
                  else [list_aggregate(hs, 'min')] end as ms
              from hashes
            )
            select distinct doc_id, unnest(ms) as fp_hash from mins
        """)
def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) rolling fingerprints — min-hash of each sliding
    window over token k-gram hashes; pure array expressions."""
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.winnow_fingerprints(docs, k=5, window=4)


@query(oracle="""
            with toks as (
              select doc_id, text, string_split(trim(text), ' ') as t
              from documents
            )
            select doc_id,
                   cast(len(t) as bigint) as token_count,
                   cast(length(text) as bigint) as char_count,
                   round(len(list_distinct(t)) * 1.0 / len(t), 6) as unique_token_ratio,
                   round(list_aggregate(list_transform(t, w -> length(w)), 'sum') * 1.0 / len(t), 6) as mean_word_length,
                   round(len(list_filter(t, w -> list_contains(
                     ['the','a','an','and','or','of','to','in','is','are','was','were',
                      'for','with','on','at','by','from','that','this','it','as','be',
                      'been','has','have','had','not','but'], lower(w)))) * 1.0 / len(t), 6)
                     as stopword_ratio,
                   round((
                     (case when list_aggregate(list_transform(t, w -> length(w)), 'sum') * 1.0 / len(t)
                            between 3 and 10 then 1.0 else 0.0 end)
                     + least(5.0 * len(list_filter(t, w -> list_contains(
                         ['the','a','an','and','or','of','to','in','is','are','was','were',
                          'for','with','on','at','by','from','that','this','it','as','be',
                          'been','has','have','had','not','but'], lower(w)))) / len(t), 1.0)
                     + len(list_distinct(t)) * 1.0 / len(t)
                   ) / 3.0, 6) as quality_score,
                   md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) as fingerprint
            from toks
        """)
def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.doc_stats(docs).withColumn(
        "token_count", F.col("token_count").cast("bigint")
    ).withColumn("char_count", F.col("char_count").cast("bigint"))


@query(oracle="""
            select token, count(*) as freq
            from (
              select unnest(string_split(trim(text), ' ')) as token
              from documents
            )
            group by token
        """)
def q_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.trim("text"), "\\s+")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )


@query(oracle="""
with w as (
  select doc_id, text,
    list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') as ws,
    list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> x <> '') as ls,
    list_filter(list_transform(regexp_split_to_array(text, '\\n\\s*\\n'), x -> trim(x)), x -> x <> '') as ps
  from documents
), s as (
  select doc_id,
    len(ws) as wc, len(ls) as lc, len(ps) as pc,
    coalesce(list_aggregate(list_transform(ws, x -> length(x)), 'sum'), 0) as wchars,
    len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) as alpha,
    len(list_filter(ws, x -> list_contains(
      ['the','be','to','of','and','that','have','with','a','in','it','on'], lower(x)))) as stop_cnt,
    length(text) - length(replace(text, '#', '')) as hash_cnt,
    len(string_split(text, '...')) - 1 as ell_cnt,
    len(list_filter(ls, x -> regexp_matches(x, '^[-*•‣⁃]'))) as bullet_lines,
    len(list_filter(ls, x -> regexp_matches(x, '\\.\\.\\.$'))) as ell_lines,
    coalesce(list_aggregate(list_transform(ls, x -> length(x)), 'sum'), 0) as lchars,
    coalesce(list_aggregate(list_transform(list_distinct(ls), x -> length(x)), 'sum'), 0) as dlchars,
    len(list_distinct(ls)) as dlc,
    coalesce(list_aggregate(list_transform(ps, x -> length(x)), 'sum'), 0) as pchars,
    coalesce(list_aggregate(list_transform(list_distinct(ps), x -> length(x)), 'sum'), 0) as dpchars,
    len(list_distinct(ps)) as dpc
  from w
)
select doc_id,
  cast(wc as bigint) as word_count,
  cast(lc as bigint) as line_count,
  cast(stop_cnt as bigint) as stopword_count,
  round(case when wc > 0 then wchars / wc else 0.0 end, 6) as mean_word_len,
  round(case when wc > 0 then alpha / wc else 0.0 end, 6) as alpha_word_frac,
  round(case when wc > 0 then (hash_cnt + ell_cnt) / wc else 0.0 end, 6) as symbol_word_ratio,
  round(case when lc > 0 then bullet_lines / lc else 0.0 end, 6) as bullet_line_frac,
  round(case when lc > 0 then ell_lines / lc else 0.0 end, 6) as ellipsis_line_frac,
  round(case when lc > 0 then 1.0 - dlc / lc else 0.0 end, 6) as dup_line_frac,
  round(case when lchars > 0 then (lchars - dlchars) / lchars else 0.0 end, 6) as dup_line_char_frac,
  round(case when pc > 0 then 1.0 - dpc / pc else 0.0 end, 6) as dup_para_frac,
  round(case when pchars > 0 then (pchars - dpchars) / pchars else 0.0 end, 6) as dup_para_char_frac,
  ((wc between 50 and 100000)
   and ((case when wc > 0 then wchars / wc else 0.0 end) between 3.0 and 10.0)
   and ((case when wc > 0 then (hash_cnt + ell_cnt) / wc else 0.0 end) <= 0.1)
   and ((case when lc > 0 then bullet_lines / lc else 0.0 end) <= 0.9)
   and ((case when lc > 0 then ell_lines / lc else 0.0 end) <= 0.3)
   and ((case when wc > 0 then alpha / wc else 0.0 end) >= 0.8)
   and (stop_cnt >= 2)) as gopher_keep
from s
""")
def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document-quality gate (Rae et al. 2021 Table A1):
    word/line stats, symbol + bullet + ellipsis ratios, stopword
    presence, duplicate line/paragraph fractions, and the composite
    keep/drop flag. All native zero-shuffle array expressions —
    scales by scan parallelism alone."""
    from unstructured_spark.operators import quality_filters as qf

    docs = _t(spark, sf_dir, "documents")
    gq = qf.gopher_quality(docs)
    frac_cols = [
        "mean_word_len",
        "alpha_word_frac",
        "symbol_word_ratio",
        "bullet_line_frac",
        "ellipsis_line_frac",
        "dup_line_frac",
        "dup_line_char_frac",
        "dup_para_frac",
        "dup_para_char_frac",
    ]
    out = gq.select(
        "doc_id",
        F.col("word_count").cast("bigint").alias("word_count"),
        F.col("line_count").cast("bigint").alias("line_count"),
        F.col("stopword_count").cast("bigint").alias("stopword_count"),
        *[F.round(F.col(c), 6).alias(c) for c in frac_cols],
        "gopher_keep",
    )
    return out


@query(oracle="""
with w as (
  select doc_id, length(trim(text)) as text_len,
    list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') as ws
  from documents
), grams as (
  select doc_id, text_len, n,
    unnest([array_to_string(ws[i:i+n-1], ' ')
            for i in range(1, greatest(len(ws) - n + 2, 1))]) as gram
  from w cross join (select unnest([2, 5]) as n) t
), counts as (
  select doc_id, text_len, n, gram, count(*) as cnt
  from grams group by doc_id, text_len, n, gram
), per_n as (
  select doc_id, text_len, n,
    sum(cnt) as total,
    max(cnt * length(gram)) as top_chars,
    sum(case when cnt > 1 then cnt else 0 end) as dup_occ
  from counts group by doc_id, text_len, n
)
, stats as (
  select doc_id,
    round(max(case when n = 2 then dup_occ / total end), 6) as dup_2gram_frac,
    round(max(case when n = 2 then top_chars / greatest(text_len, 1) end), 6) as top_2gram_char_frac,
    round(max(case when n = 5 then dup_occ / total end), 6) as dup_5gram_frac,
    round(max(case when n = 5 then top_chars / greatest(text_len, 1) end), 6) as top_5gram_char_frac
  from per_n group by doc_id
)
select d.doc_id, s.dup_2gram_frac, s.top_2gram_char_frac,
       s.dup_5gram_frac, s.top_5gram_char_frac
from (select distinct doc_id from documents) d
left join stats s using (doc_id)
""")
def q_ngram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher n-gram repetition signals per document: duplicate
    2/5-gram occurrence fractions + top-gram character coverage.
    Word-count-shaped plan: native gram arrays → explode → two-level
    groupBy with map-side partials; uniform shuffle keys."""
    from unstructured_spark.operators import quality_filters as qf

    docs = _t(spark, sf_dir, "documents")
    return qf.ngram_repetition(docs, ns=(2, 5))


@query(oracle="""
            select md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) as fingerprint,
                   min(doc_id) as keep_id,
                   count(*) as dup_count
            from documents
            group by fingerprint
        """)
def q_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.exact_duplicates(docs).select(
        "fingerprint", "keep_id", "dup_count"
    )


@query(oracle=_MINHASH_SIG_CTE + """
            select doc_id, cast(h as bigint) as h, sig[h + 1] as minhash
            from sigs, (select unnest(range(0, 16)) as h)
        """)
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, num_hashes=16, shingle_size=3)
    return sigs.select(
        "doc_id", F.posexplode("sig").alias("h", "minhash")
    ).select("doc_id", F.col("h").cast("bigint").alias("h"), "minhash")


@query(oracle=_LSH_PAIRS_CTE + """
            select doc_a, doc_b,
                   round(len(list_filter([sig_a[i] = sig_b[i] for i in range(1, 17)],
                                         x -> x)) / 16.0, 6) as est_jaccard
            from pairs
        """)
def q_lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.lsh_candidate_pairs(docs, num_hashes=16, bands=8, shingle_size=3)


@query(oracle=_LSH_PAIRS_CTE + """
            , sh as (
              select doc_id,
                     list_distinct([t.toks[i] || '_' || t.toks[i+1] || '_' || t.toks[i+2]
                                    for i in range(1, len(t.toks) - 1)]) as sh
              from (select doc_id, string_split(trim(text), ' ') as toks
                    from documents) t
            )
            select doc_a, doc_b,
                   round(len(list_intersect(a.sh, b.sh)) * 1.0 /
                         len(list_distinct(list_concat(a.sh, b.sh))), 6) as jaccard
            from pairs
            join sh a on a.doc_id = doc_a
            join sh b on b.doc_id = doc_b
            where round(len(list_intersect(a.sh, b.sh)) * 1.0 /
                        len(list_distinct(list_concat(a.sh, b.sh))), 6) >= 0.5
        """)
def q_ngram_jaccard_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5)


@query(oracle="""
            with toks as (
              select doc_id,
                     list_transform(list_distinct(string_split(trim(text), ' ')),
                       t -> cast(('0x' || substr(md5(t),1,15)) as bigint)) as hs
              from documents
            )
            select doc_id,
                   cast(list_aggregate(
                     [case when len(list_filter(hs, h -> (h >> b) & 1 = 1)) * 2 > len(hs)
                           then 1 << b else 0 end
                      for b in range(0, 16)], 'sum') as bigint) as simhash16
            from toks
        """)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", dedup.simhash(F.col("text"), bits=16).alias("simhash16"))


@query(oracle=_LSH_PAIRS_CTE.replace("with ", "with recursive ", 1)
    + """
            , edges as (
              select doc_a as a, doc_b as b from pairs
              union
              select doc_b as a, doc_a as b from pairs
            ), reach as (
              select a, b from edges
              union
              select r.a, e.b from reach r join edges e on r.b = e.a
                where e.b <> r.a
            )
            select a as doc_id, least(a, min(b)) as cluster_id
            from reach group by a
        """)
def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: LSH candidate pairs → iterative min-label
    connected components (O(log n) shuffle rounds, fixpoint-checked).
    Oracle = recursive-CTE transitive closure over the same pairs."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.duplicate_clusters(docs).select(
        F.col("doc").alias("doc_id"), F.col("label").alias("cluster_id")
    )


@query(oracle="""
            with lines as (
              select doc_id, i as pos, ls[i] as line,
                     md5(lower(trim(regexp_replace(ls[i], '\\s+', ' ', 'g'))))
                       as fp,
                     trim(regexp_replace(ls[i], '\\s+', ' ', 'g')) != ''
                       as nonblank
              from (select doc_id,
                           string_split(coalesce(text, ''), chr(10)) as ls
                    from documents) t,
                   unnest(range(1, len(ls) + 1)) as u(i)
            ), frequent as (
              select fp from lines where nonblank
              group by fp having count(distinct doc_id) >= 2
            ), kept as (
              select * from lines where fp not in (select fp from frequent)
            ), rebuilt as (
              select doc_id,
                     string_agg(line, chr(10) order by pos) as clean,
                     count(*) as nkept
              from kept group by doc_id
            ), counts as (
              select doc_id, count(*) as nlines from lines group by doc_id
            )
            select c.doc_id,
                   coalesce(r.clean, '') as text,
                   cast(c.nlines - coalesce(r.nkept, 0) as bigint)
                     as removed_lines
            from counts c left join rebuilt r using (doc_id)
        """)
def q_remove_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-level line dedup: lines whose normalized
    fingerprint appears in >= 2 distinct documents are boilerplate;
    every occurrence is removed and docs reassembled in line order
    (operators/dedup.py remove_boilerplate_lines)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.remove_boilerplate_lines(docs, min_docs=2)


# incremental-dedup oracle base: signatures + bands over ALL docs,
# even doc_ids as the historical index, odd as the new batch;
# `newdocs` = vs-history survivors, `pairs2` = intra-batch candidates
_LSH_SPLIT_CTE = _MINHASH_SIG_CTE + """
, bands as (
  select doc_id, sig, b, sig[2*b+1] || ':' || sig[2*b+2] as band_key
  from sigs, (select unnest(range(0, 8)) as b)
), hits as (
  select distinct n.doc_id as nd
  from bands n join bands h
    on n.b = h.b and n.band_key = h.band_key
  where n.doc_id % 2 = 1 and h.doc_id % 2 = 0
    and len(list_filter(range(1, 17), i -> n.sig[i] = h.sig[i])) / 16.0
        >= 0.5
), newdocs as (
  select doc_id, text from documents
  where doc_id % 2 = 1 and doc_id not in (select nd from hits)
)
"""


@query(oracle=_LSH_SPLIT_CTE + """
            select doc_id, text from newdocs
        """)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup, the 100 TB production shape: even doc_ids
    play the historical corpus (persisted minhash_band_index rows),
    odd doc_ids the newly-arrived batch; survivors = new docs with no
    signature-est-Jaccard >= 0.5 bucket collision against history
    (operators/dedup.py dedup_against_index). This benchmarks the
    NEW incremental primitive in isolation (intra_batch=False): the
    follow-on intra-batch pass is exactly drop_near_duplicates, which
    q_drop_near_duplicates already benches + oracles on its own, and
    chaining it here would triple-count three already-measured
    operators in one timing. The chained intra_batch=True contract is
    unit-tested (tests/test_dedup_cap.py).

    Both sides derive from one table here, so the band rows are built
    in ONE signature pass over the full corpus and split by parity
    afterwards — identical rows (signatures are per-doc), half the
    explode+md5+aggregate work: one corpus pass instead of two. (With
    the lazy checkpoint that one pass is still first materialized by
    whichever consumer job runs first — which can be the history
    side's BroadcastExchange build, so the pass runs under
    spark.sql.broadcastTimeout once; eager=True would trade that for
    a separate always-run job.) The lazy checkpoint stops the parity
    predicates pushing below the aggregate and re-splitting the
    shared subtree (tests/test_dedup_cap.py pins band-then-split ==
    split-then-band)."""
    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    banded = dedup.minhash_band_index(docs).localCheckpoint(eager=False)
    index = banded.filter(F.col("doc_id") % 2 == 0)
    new_banded = banded.filter(F.col("doc_id") % 2 == 1)
    return dedup.dedup_against_index(
        new, index, new_index=new_banded, intra_batch=False
    ).select("doc_id", "text")


@query(oracle=_VERIFIED_LABELS_CTE + """
            , fp as (
              select doc_id, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) as f
              from documents
            ), keepers as (
              select f, min(doc_id) as keep from fp group by f
            ), drops as (
              select doc from labels where lbl <> doc
              union
              select fp.doc_id as doc from fp join keepers using (f)
              where fp.doc_id <> keepers.keep
            )
            select d.doc_id, d.text from documents d
            where d.doc_id not in (select doc from drops)
        """)
def q_drop_near_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-call corpus dedup: exact md5 groups + LSH→Jaccard-verified
    near-dup clusters, keep-min per cluster, broadcast anti-join drop
    (the corpus itself is never shuffled). Oracle replays the whole
    pipeline: signatures, banding, Jaccard verify, recursive closure,
    md5 groups."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.drop_near_duplicates(
        docs, n=3, threshold=0.5, num_hashes=16, bands=8
    ).select("doc_id", "text")


@query(oracle=_VERIFIED_LABELS_CTE + """
            , ck as (
              select lbl, doc as keep from (
                select l.lbl, l.doc,
                       row_number() over (partition by l.lbl
                                          order by d.n_chars desc, l.doc asc) as rn
                from labels l join documents d on d.doc_id = l.doc
              ) where rn = 1
            ), fpq as (
              select doc_id,
                     md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) as f,
                     n_chars as q
              from documents
            ), fkeep as (
              select f, doc_id as keep from (
                select f, doc_id,
                       row_number() over (partition by f
                                          order by q desc, doc_id asc) as rn
                from fpq
              ) where rn = 1
            ), drops as (
              select l.doc from labels l join ck using (lbl) where l.doc <> ck.keep
              union
              select fpq.doc_id as doc from fpq join fkeep using (f)
              where fpq.doc_id <> fkeep.keep
            )
            select d.doc_id, d.text from documents d
            where d.doc_id not in (select doc from drops)
        """)
def q_drop_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-call corpus dedup with the production keep policy: per
    exact-fingerprint group / near-dup cluster keep the member
    maximizing n_chars (ties -> min doc_id) instead of blindly keeping
    the lowest id — what corpus builds actually do (retain the
    longest / highest-quality copy). Same LSH->Jaccard->CC pipeline as
    q_drop_near_duplicates; only the representative choice differs
    (operators/dedup.py drop_near_duplicates keep='best').

    Registered despite overlapping q_drop_near_duplicates because the
    keeper rule is a DIFFERENT aggregation path (max_by over quality
    joined onto cluster members vs the free min-label) whose
    correctness deserves its own external hash row; its cost sits in
    the existing dedup-composite band (~2.5s at sf0.1), unlike the
    intra-batch chain q_dedup_incremental deliberately excludes."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.drop_near_duplicates(
        docs, n=3, threshold=0.5, num_hashes=16, bands=8,
        keep="best", quality_col="n_chars",
    ).select("doc_id", "text")


@query(oracle="""
            with toks as (
              select doc_id, string_split(trim(text), ' ') as t from documents
            ), pos as (
              select doc_id, t, unnest(range(0, len(t) - 15 + 1)) as pos
              from toks where len(t) >= 15
            ), gh as (
              select doc_id, pos,
                     cast(('0x' || substr(md5(array_to_string(t[pos+1 : pos+15], ' ')),
                                          1, 15)) as bigint) as gh
              from pos
            ), m as (
              select a.doc_id as doc_a, b.doc_id as doc_b,
                     a.pos as pos_a, b.pos as pos_b
              from gh a join gh b on a.gh = b.gh and a.doc_id < b.doc_id
            ), isl as (
              select *, pos_a - pos_b as diag,
                     pos_a - row_number() over (
                       partition by doc_a, doc_b, pos_a - pos_b
                       order by pos_a) as islid
              from m
            )
            select doc_a, doc_b, min(pos_a) as start_a, min(pos_b) as start_b,
                   cast(count(*) + 15 - 1 as bigint) as match_tokens
            from isl group by doc_a, doc_b, diag, islid
        """)
def q_shared_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup (Lee et al. 2022): maximal runs of >= 15
    consecutive shared tokens between document pairs — k-gram position
    match + diagonal gaps-and-islands (suffix-array semantics,
    re-expressed as one hash-keyed self-join)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.shared_ngram_spans(docs, k=15)


@query(oracle="""
            with toks0 as (
              select doc_id, string_split(trim(text), ' ') as t from documents
            ), pos as (
              select doc_id, t, unnest(range(0, len(t) - 15 + 1)) as pos
              from toks0 where len(t) >= 15
            ), gh as (
              select doc_id, pos,
                     cast(('0x' || substr(md5(array_to_string(t[pos+1 : pos+15], ' ')),
                                          1, 15)) as bigint) as gh
              from pos
            ), m as (
              select a.doc_id as doc_a, b.doc_id as doc_b,
                     a.pos as pos_a, b.pos as pos_b
              from gh a join gh b on a.gh = b.gh and a.doc_id < b.doc_id
            ), isl as (
              select *, pos_a - pos_b as diag,
                     pos_a - row_number() over (
                       partition by doc_a, doc_b, pos_a - pos_b
                       order by pos_a) as islid
              from m
            ), spans as (
              select doc_b, min(pos_b) as start_b,
                     count(*) + 15 - 1 as mt
              from isl group by doc_a, doc_b, diag, islid
            ), removal as (
              select distinct doc_b as doc,
                     unnest(range(start_b, start_b + mt)) as pos
              from spans
            ), tokpos as (
              select doc_id as doc,
                     unnest([{'pos': i - 1, 'tok': t[i]}
                             for i in range(1, len(t) + 1)], recursive := true)
              from toks0
            ), kept as (
              select tp.doc, tp.pos, tp.tok
              from tokpos tp anti join removal r
                on tp.doc = r.doc and tp.pos = r.pos
            ), rebuilt as (
              select doc, string_agg(tok, ' ' order by pos) as text,
                     cast(count(*) as bigint) as kept
              from kept group by doc
            ), ntok as (
              select doc_id as doc, cast(len(t) as bigint) as n from toks0
            )
            select n.doc as doc_id, coalesce(r.text, '') as text,
                   n.n - coalesce(r.kept, 0) as removed_tokens
            from ntok n left join rebuilt r on n.doc = r.doc
        """)
def q_remove_shared_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-dedup ACTION (Lee et al. 2022): documents rewritten
    with >=15-token verbatim shared passages cut from the later doc
    (first occurrence kept). Span positions explode to a removal set,
    a left-anti join drops them, an ordered agg rebuilds the text."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.remove_shared_spans(docs, k=15)


@query(oracle="""
            with toks as (
              select doc_id, string_split(trim(text), ' ') as t,
                     substr(md5(cast(doc_id as varchar)), 1, 1) as bkt
              from documents
            ), bench as (
              select distinct
                     cast(('0x' || substr(md5(array_to_string(t[i+1 : i+13], ' ')),
                                          1, 15)) as bigint) as gh
              from (select t, unnest(range(0, len(t) - 13 + 1)) as i
                    from toks where bkt in ('0','1') and len(t) >= 13)
            ), corpus as (
              select doc_id,
                     list_distinct(
                       [cast(('0x' || substr(md5(array_to_string(t[i+1 : i+13], ' ')),
                                             1, 15)) as bigint)
                        for i in range(0, len(t) - 13 + 1)]) as ghs
              from toks where bkt not in ('0','1') and len(t) >= 13
            ), hits as (
              -- denominator = DISTINCT grams, matching the distinct
              -- numerator (raw window count would understate repeats)
              select doc_id, len(ghs) as ndis, unnest(ghs) as gh from corpus
            )
            select h.doc_id, cast(count(*) as bigint) as contaminated_grams,
                   cast(first(ndis) as bigint) as total_grams
            from hits h join bench b on h.gh = b.gh
            group by h.doc_id
        """)
def q_contaminated_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: 13-gram verbatim overlap of each
    corpus doc against a held-out 'benchmark' slice (deterministic
    md5 split of the documents table), GPT-3 appendix-C style. The
    benchmark gram set is broadcast; the corpus side stays map-only
    plus one per-doc aggregate."""
    docs = _t(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    bench = docs.filter(bucket.isin("0", "1"))
    corpus = docs.filter(~bucket.isin("0", "1"))
    # integer columns only: the contamination ratio is a small-int
    # division whose 7th decimal digit can land exactly on .5 (e.g.
    # total_grams = 128), where Spark HALF_UP and DuckDB double
    # rounding disagree — consumers divide the two counts themselves
    return dedup.contaminated_docs(corpus, bench, k=13).select(
        "doc_id", "contaminated_grams", "total_grams"
    )


@query(oracle="""
            with feats as (
              select doc_id,
                list_concat(
                  list_filter(string_split(trim(text), ' '), x -> x != ''),
                  case when len(list_filter(string_split(trim(text), ' '),
                                            x -> x != '')) >= 2
                    then [list_filter(string_split(trim(text), ' '),
                                      x -> x != '')[i] || '_' ||
                          list_filter(string_split(trim(text), ' '),
                                      x -> x != '')[i + 1]
                          for i in range(1,
                            len(list_filter(string_split(trim(text), ' '),
                                            x -> x != '')))]
                    else [] end) as fs
              from documents
            ), ex as (
              select doc_id,
                cast(('0x' || substr(md5(g), 1, 15)) as bigint) % 4096 as b
              from (select doc_id, unnest(fs) as g from feats)
            ), tgt as (
              select b, count(*) as ct from ex where doc_id < 20 group by b
            ), raw as (
              select b, count(*) as cr from ex group by b
            ), nt as (select count(*) as n from ex where doc_id < 20),
            nr as (select count(*) as n from ex),
            dist as (
              select g.b,
                cast(floor((ln(cast(coalesce(t.ct, 0) + 1 as double)
                              / ((select n from nt) + 4096))
                          - ln(cast(coalesce(r.cr, 0) + 1 as double)
                              / ((select n from nr) + 4096)))
                          * 1000000000.0 + 0.5) as bigint) as lrq
              from (select unnest(range(0, 4096)) as b) g
              left join tgt t on g.b = t.b
              left join raw r on g.b = r.b
            ), scored as (
              select ex.doc_id,
                     cast(count(*) as bigint) as n_features,
                     sum(d.lrq) as lwq
              from ex join dist d on ex.b = d.b
              group by ex.doc_id
            )
            select doc_id, n_features,
                   floor((cast(lwq as double) / 1000000000.0) * 1000000.0
                         + 0.5) / 1000000.0 as log_weight,
                   floor(exp(floor((cast(lwq as double) / 1000000000.0)
                                   * 1000000.0 + 0.5) / 1000000.0)
                         * 1000000.0 + 0.5) / 1000000.0 as weight
            from scored
        """)
def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights against a deterministic target sample
    (doc_id < 20 stands in for the high-quality seed set): hashed
    unigram+bigram distributions (4096 md5 buckets), per-doc
    log-likelihood-ratio scores ready for weighted resampling."""
    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("doc_id") < 20)
    return text_analysis.dsir_importance(docs, target, buckets=4096)


@query(oracle=_NB_RANKED_CTE + """
            select cast(doc_id as varchar) as doc_id,
                   max(case when rn = 1 then cls end) as predicted,
                   max(case when rn = 1 then score end) as score_q,
                   cast(coalesce(max(case when rn = 1 then score end)
                          - max(case when rn = 2 then score end), 0) as bigint)
                     as margin_q
            from ranked group by doc_id
        """)
def q_nb_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive-Bayes corpus classifier (the CCNet/WebText quality-gate
    shape): train on a deterministic seed slice (doc_id % 10 < 3) with
    the ``source`` column as the label, score every document. Scores
    are exact BIGINTs via the fixed-point integer log, so the full
    train+score pipeline hash-checks against the SQL replay."""
    from unstructured_spark.operators.classifier import nb_classify

    docs = _t(spark, sf_dir, "documents")
    seed = docs.filter(F.col("doc_id") % 10 < 3)
    return nb_classify(
        docs, seed, label="source", buckets=4096, max_tokens=64,
        seed_in_corpus=True,
    ).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "predicted",
        "score_q",
        "margin_q",
    )


@query(oracle="""
            with words as (
              select w as word, cast(count(*) as bigint) as n
              from (
                select unnest(list_filter(
                  string_split_regex(trim(lower(text)), '\\s+'),
                  x -> x != '')) as w
                from documents
              )
              group by w
            ), pos as (
              select word, n,
                     unnest(range(1, length(word) + 1)) as i
              from words
            )
            select substr(word, cast(i as int), 1) as a,
                   case when i < length(word)
                        then substr(word, cast(i as int) + 1, 1)
                        else '</w>' end as b,
                   cast(sum(n) as bigint) as pair_count
            from pos
            group by a, b
            order by pair_count desc, a, b
            limit 100
        """)
def q_bpe_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer-training statistics (Sennrich et al.
    2016): corpus → word-frequency table (the one corpus-wide shuffle)
    → weighted adjacent-character-pair counts with the </w> end-of-word
    marker — the exact argmax statistics of the first merge iteration.
    Top-100 by (count desc, pair asc); all-integer, so the SQL replay
    is bit-exact."""
    from unstructured_spark.operators import tokenizer

    docs = _t(spark, sf_dir, "documents")
    wc = tokenizer.word_counts(docs)
    return (
        tokenizer.bpe_pair_counts(wc)
        .orderBy(F.desc("pair_count"), F.asc("a"), F.asc("b"))
        .limit(100)
    )


@query(oracle="""
            with words as (
              select w as token, cast(count(*) as bigint) as cnt
              from (
                select unnest(list_filter(
                  string_split_regex(trim(lower(text)), '\\s+'),
                  x -> x != '')) as w
                from documents
              )
              group by w
            ), tot as (
              select cast(sum(cnt) as bigint) as total from words
            ), top as (
              select token, cnt from words
              order by cnt desc, token asc limit 200
            )
            select token, cnt,
                   cast(row_number() over
                        (order by cnt desc, token asc) as bigint) as rank,
                   cast(sum(cnt) over
                        (order by cnt desc, token asc
                         rows between unbounded preceding and current row)
                        as bigint) as cum_cnt,
                   (cast(sum(cnt) over
                        (order by cnt desc, token asc
                         rows between unbounded preceding and current row)
                        as bigint) * 1000000) // total as coverage_ppm
            from top, tot
        """)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf coverage curve for vocabulary sizing: top-200 tokens with
    exact integer cumulative counts and parts-per-million coverage of
    the total token mass (truncating division — no float percentile to
    diverge across engines). The global total rides in as a broadcast
    one-row join; the ranking window touches only the k survivors of a
    TakeOrdered."""
    from unstructured_spark.operators import tokenizer

    docs = _t(spark, sf_dir, "documents")
    return tokenizer.vocab_coverage(docs, top_k=200).withColumn(
        "rank", F.col("rank").cast("bigint")
    )


# Frozen BPE merge table (learned once from the sf0.01 corpus, then
# shipped like trained weights — production encodes with a FROZEN
# tokenizer, it never relearns per batch). Counts kept for provenance;
# only the (left, right) order matters at inference.
_FROZEN_MERGES = [
    ("e", "r", 4568), ("e", "</w>", 4473), ("n", "</w>", 2834),
    ("er", "</w>", 2779), ("o", "w", 2747), ("ow", "</w>", 2747),
    ("o", "r", 2696), ("s", "t", 2676), ("h", "</w>", 1884),
    ("a", "t", 1845), ("l", "u", 1831), ("i", "n", 1796),
    ("a", "</w>", 1788), ("g", "</w>", 1777), ("y", "</w>", 1767),
    ("a", "r", 1758), ("p", "ar", 1758), ("t", "</w>", 1750),
    ("i", "n</w>", 964), ("j", "o", 964), ("jo", "in</w>", 964),
    ("a", "s", 947), ("as", "h</w>", 947), ("h", "ash</w>", 947),
    ("r", "ow</w>", 943), ("at", "c", 937), ("atc", "h</w>", 937),
    ("b", "atch</w>", 937), ("a", "n</w>", 936), ("c", "an</w>", 936),
    ("s", "can</w>", 936), ("c", "o", 934),
]


def _bpe_fertility_oracle() -> str:
    """Generate the q_bpe_fertility oracle: replay the frozen-merge BPE
    encoder as chained replace() steps over \\x01-wrapped symbol
    strings (each symbol is ``\\x01sym\\x01``, so adjacent symbols
    share no delimiter characters and one non-overlapping replace pass
    per merge is exhaustive — see fertility_by_stratum's determinism
    note), then weight each vocabulary word's token count by its
    per-source frequency."""

    def esc(s: str) -> str:
        return s.replace("\\", "\\\\").replace("'", "''")

    steps, prev = [], "e0"
    for i, (a, b, _) in enumerate(_FROZEN_MERGES):
        cur = f"e{i + 1}"
        pat = f"e'\\x01{esc(a)}\\x01\\x01{esc(b)}\\x01'"
        rep = f"e'\\x01{esc(a)}{esc(b)}\\x01'"
        steps.append(
            f"{cur} as (select word, replace(s, {pat}, {rep}) as s from {prev})"
        )
        prev = cur
    chain = ",\n            ".join(steps)
    return f"""
            with wc as (
              select source, w as word, cast(count(*) as bigint) as cnt
              from (
                select source, unnest(list_filter(
                  string_split_regex(trim(lower(coalesce(text, ''))), '\\s+'),
                  x -> x != '')) as w
                from documents
              )
              group by source, w
            ),
            words as (select distinct word from wc),
            e0 as (select word,
                   e'\\x01' || regexp_replace(word, '(.)', e'\\\\1\\x01\\x01', 'g')
                   || '</w>' || e'\\x01' as s
                   from words),
            {chain},
            tok as (select word,
                    (length(s) - length(replace(s, e'\\x01', ''))) // 2 as ntok
                    from {prev})
            select wc.source,
                   cast(sum(wc.cnt) as bigint) as words,
                   cast(sum(wc.cnt * tok.ntok) as bigint) as bpe_tokens,
                   (cast(sum(wc.cnt * tok.ntok) as bigint) * 1000000)
                     // cast(sum(wc.cnt) as bigint) as fertility_ppm
            from wc join tok using (word)
            group by wc.source
        """


@query(oracle=_bpe_fertility_oracle())
def q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per source with the frozen 32-merge BPE
    table: exact integer (words, bpe_tokens, fertility_ppm) per
    stratum. The Python encoder touches only the VOCABULARY (one
    corpus shuffle for the (source, word) counts, Zipf-bounded UDF
    input); the oracle replays the encoder as 32 chained replace()
    calls over delimiter-wrapped symbol strings — greedy
    lowest-rank-first inference provably equals exhaustive merge
    application in learned order (see fertility_by_stratum docstring),
    so both engines produce identical token counts symbol-for-symbol."""
    from unstructured_spark.operators import tokenizer

    docs = _t(spark, sf_dir, "documents")
    return tokenizer.fertility_by_stratum(
        docs, _FROZEN_MERGES, strata="source"
    )


@query(oracle="""
            with base as (
              select doc_id, text from documents
              union all
              select doc_id + 1000000 as doc_id, text
              from documents where doc_id % 31 = 0
            ), aug as (
              select doc_id,
                case when cast(('0x' || substr(md5(text), 1, 15)) as bigint)
                          % 7 = 0
                     then text || ' contact admin@example.com'
                               || ' tel (555) 123-4567'
                     when cast(('0x' || substr(md5(text), 1, 15)) as bigint)
                          % 13 = 1
                     then text || ' {var x = 1;}'
                     else text end as text
              from base
            ), w as (
              select doc_id, text,
                list_filter(regexp_split_to_array(trim(text), '\\s+'),
                            x -> x <> '') as ws,
                list_filter(list_transform(string_split(text, chr(10)),
                                           x -> trim(x)), x -> x <> '') as ls
              from aug
            ), s as (
              select doc_id, text,
                len(ws) as wc, len(ls) as lc,
                coalesce(list_aggregate(list_transform(ws, x -> length(x)),
                                        'sum'), 0) as wchars,
                len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')))
                  as alpha,
                len(list_filter(ws, x -> list_contains(
                  ['the','be','to','of','and','that','have','with','a','in',
                   'it','on'], lower(x)))) as stop_cnt,
                length(text) - length(replace(text, '#', '')) as hash_cnt,
                len(string_split(text, '...')) - 1 as ell_cnt,
                len(list_filter(ls, x -> regexp_matches(x, '^[-*•‣⁃]')))
                  as bullet_lines,
                len(list_filter(ls, x -> regexp_matches(x, '\\.\\.\\.$')))
                  as ell_lines
              from w
            ), g as (
              select doc_id, text,
                ((wc between 20 and 100000)
                 and ((case when wc > 0 then wchars / wc else 0.0 end)
                      between 3.0 and 10.0)
                 and ((case when wc > 0 then (hash_cnt + ell_cnt) / wc
                            else 0.0 end) <= 0.1)
                 and ((case when lc > 0 then bullet_lines / lc
                            else 0.0 end) <= 0.9)
                 and ((case when lc > 0 then ell_lines / lc
                            else 0.0 end) <= 0.3)
                 and ((case when wc > 0 then alpha / wc
                            else 0.0 end) >= 0.8)
                 and (stop_cnt >= 1)) as gopher_keep,
                ((lower(text) not like '%lorem ipsum%')
                 and (strpos(text, '{') = 0)
                 and (len(list_filter(string_split_regex(text, '[.!?]'),
                                      s2 -> trim(s2) <> '')) >= 1))
                  as c4_keep
              from s
            ), cands as (
              select doc_id, unnest(regexp_extract_all(text, '""" + _P_CC + """'))
                as c
              from aug
            ), rd as (
              select doc_id,
                     reverse(regexp_replace(c, '[^0-9]', '', 'g')) as rd
              from cands
            ), lu as (
              select doc_id from rd where
                list_sum([case when i % 2 = 0 then
                    case when cast(rd[i] as int) * 2 > 9
                         then cast(rd[i] as int) * 2 - 9
                         else cast(rd[i] as int) * 2 end
                  else cast(rd[i] as int) end
                  for i in range(1, length(rd) + 1)]) % 10 = 0
            ), cc as (
              select doc_id, cast(count(*) as bigint) as credit_cards
              from lu group by doc_id
            ), p as (
              select a.doc_id,
                cast(len(regexp_extract_all(a.text, '""" + _P_EMAIL + """'))
                     as bigint)
                + cast(len(regexp_extract_all(a.text, '""" + _P_PHONE + """'))
                       as bigint)
                + cast(len(regexp_extract_all(a.text, '""" + _P_IP + """'))
                       as bigint)
                + cast(len(regexp_extract_all(a.text, '""" + _P_SSN + """'))
                       as bigint)
                + coalesce(cc.credit_cards, 0) as pii_total
              from aug a left join cc using (doc_id)
            ), d as (
              select doc_id,
                doc_id <> min(doc_id) over (partition by
                  md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))))
                  as is_exact_dup
              from aug
            )
            select g.doc_id, g.gopher_keep, g.c4_keep,
                   cast(p.pii_total as bigint) as pii_total, d.is_exact_dup,
                   case when not g.gopher_keep then 'gopher'
                        when not g.c4_keep then 'c4'
                        when p.pii_total > 0 then 'pii'
                        when d.is_exact_dup then 'exact_dup'
                        else 'keep' end as verdict
            from g join p using (doc_id) join d using (doc_id)
        """)
def q_filter_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document filter WHY table (new r9): every hygiene gate's
    verdict per doc plus the first failing gate in the documented
    cheap-to-expensive order (gopher → c4 → pii → exact_dup). Runs on
    an augmented corpus view that makes every gate reachable (the
    synthetic corpus has no PII, no code braces, and no exact dups):
    exact duplicates injected by copying the doc_id%31 slice, a PII
    contact line appended on one TEXT-derived hash slice and a C4
    code-brace marker on a disjoint second slice — text-derived
    (never doc_id), so duplicate groups receive identical
    augmentation and the dup gate still fires behind the earlier
    gates. Gopher thresholds tuned to the corpus shape (20+ words,
    1+ stopword). ONE shuffle total: every gate but exact-dup is a
    pure expression in one projection; the dup flag rides a window
    over the fingerprint partitioning."""
    from unstructured_spark.pipelines import filter_attribution

    docs = _t(spark, sf_dir, "documents")
    dups = docs.filter(F.col("doc_id") % 31 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    base = docs.unionByName(dups)
    h = F.conv(
        F.substring(F.md5(F.col("text")), 1, 15), 16, 10
    ).cast("bigint")
    aug = base.withColumn(
        "text",
        F.when(
            h % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact admin@example.com tel (555) 123-4567"),
            ),
        )
        .when(
            h % 13 == 1,
            F.concat(F.col("text"), F.lit(" {var x = 1;}")),
        )
        .otherwise(F.col("text")),
    )
    return filter_attribution(
        aug,
        pii_max=0,
        c4_min_sentences=1,
        gopher_kwargs={"min_words": 20, "min_stopwords": 1},
    )


@query(oracle="""
            with words as (
              select w as token, cast(count(*) as bigint) as n
              from (
                select unnest(list_filter(
                  string_split_regex(trim(lower(coalesce(text, ''))), '\\s+'),
                  x -> x != '')) as w
                from documents
              )
              group by w
            ),
            grid(r) as (values (0), (1), (2), (3)),
            sk as (
              select g.r,
                     cast(('0x' || substr(md5('cms' || g.r || ':' || w.token),
                                          1, 15)) as bigint) % 1024 as b,
                     cast(sum(w.n) as bigint) as cnt
              from words w cross join grid g
              group by 1, 2
            ),
            top as (
              select token, n from words
              order by n desc, token asc limit 50
            )
            select t.token,
                   t.n as exact_cnt,
                   cast(min(sk.cnt) as bigint) as cms_est,
                   ((cast(min(sk.cnt) as bigint) - t.n) * 1000000) // t.n
                     as overcount_ppm
            from top t
            cross join grid g
            join sk on sk.r = g.r
                   and sk.b = cast(('0x' || substr(md5('cms' || g.r || ':'
                                   || t.token), 1, 15)) as bigint) % 1024
            group by t.token, t.n
        """)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch error audit (new r9): build a 4×1024 CMS over
    the corpus vocabulary (md5-derived hash family — deterministic
    cell-for-cell across engines), probe it for the top-50 tokens, and
    report the integer-exact overcount vs the true counts. The
    conscious-swap story for exact count tables at 100 TB: the sketch
    is d·w-bounded and broadcastable, and this audit is how a user
    sizes (d, w) against their corpus's skew."""
    from unstructured_spark.operators import sketches

    docs = _t(spark, sf_dir, "documents")
    return sketches.cms_error_audit(docs, top_k=50, d=4, w=1024)


@query(oracle="""
            with t as (
              select doc_id,
                     cast(len(list_filter(
                       string_split_regex(trim(coalesce(text, '')), '\\s+'),
                       x -> x != '')) as bigint) as n_tokens
              from documents
            ), c as (
              select doc_id, n_tokens,
                     cast(coalesce(sum(n_tokens) over (
                       order by doc_id
                       rows between unbounded preceding and 1 preceding),
                       0) as bigint) as off
              from t
            )
            select doc_id, n_tokens,
                   cast(off // 2000 as bigint) as shard_id
            from c
        """)
def q_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced shard assignment (the training data-loader
    output shape): documents in doc_id order, a new shard every 2000
    whitespace tokens, documents never split. Distributed prefix sum
    (per-block totals → tiny block-offset window → broadcast join) —
    no global window touches the corpus; all-integer so the SQL
    window-cumsum replay is exact."""
    from unstructured_spark.operators.sampling import assign_token_shards

    docs = _t(spark, sf_dir, "documents")
    return assign_token_shards(docs, 2000)


@query(oracle=f"""
            with t as (
              select doc_id,
                     list_filter(string_split(trim(text), ' '), x -> x != '') as w
              from documents
            ), tb as (
              select doc_id, w from t where len(w) >= 2
            ), b as (
              select doc_id, w[i] as w1, w[i + 1] as w2
              from tb, unnest(range(1, len(w))) as u(i)
            ), bc as (
              select w1, w2, count(*) as c12 from b group by w1, w2
            ), uc as (
              select w1, count(*) as c1 from b group by w1
            ), vocab as (
              select count(distinct t) as v from (
                select w1 as t from b union select w2 as t from b)
            ){_NLL_FX_CTE}, ced as (
              select doc_id,
                     cast((2 * sum(nlq) + count(*)) // (2 * count(*))
                          as double) / 1000000.0 as cross_entropy,
                     cast(count(*) as bigint) as n_bigrams
              from nll group by doc_id
            ), qd as (
              select *, cast(round(cross_entropy * 1000000.0) as bigint) as q
              from ced
            ), hist as (
              select q, count(*) as cnt from qd group by q
            ), mapping as (
              -- r9 root-cause fix: the window sum is HUGEINT in DuckDB,
              -- and a HUGEINT output column crosses the driver's fetch
              -- wire as decimal/float64 ("2.0" vs Spark's "2") — the
              -- r5-r8 red was the WIRE TYPE, not the math. Cast the
              -- cumsum to bigint (the proven-green q_token_shards
              -- pattern) so bucket is BIGINT end-to-end.
              select q,
                least(cast(3 as bigint),
                  ((cast(sum(cnt) over (order by q rows between unbounded
                     preceding and current row) as bigint) - cnt) * 3)
                    // (select count(*) from qd) + 1) as bucket
              from hist
            )
            select qd.doc_id, qd.cross_entropy, qd.n_bigrams, m.bucket
            from qd join mapping m on qd.q = m.q
        """)
def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail perplexity bucketing over the
    corpus bigram LM — rank-quantile buckets on the 1e-6 score grid
    (integer arithmetic, ties share buckets; no float percentile
    interpolation to diverge across engines)."""
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.perplexity_buckets(docs, buckets=3)


@query(oracle="""
            with t as (
              select doc_id,
                     list_filter(string_split(trim(coalesce(text, '')), ' '),
                                 x -> x != '') as w
              from documents
            ), pd as (
              select doc_id,
                     case when len(w) = 0 then '' else
                       array_to_string(list_transform(
                         range(0, (len(w) + 14) // 15),
                         i -> array_to_string(w[i * 15 + 1 : i * 15 + 15], ' ')),
                         chr(10) || chr(10)) end as text
              from t
            ), paras as (
              select doc_id, i as pos, ps[i] as para,
                     md5(lower(trim(regexp_replace(ps[i], '\\s+', ' ', 'g'))))
                       as fp,
                     trim(regexp_replace(ps[i], '\\s+', ' ', 'g')) != ''
                       as nonblank
              from (select doc_id,
                           string_split(text, chr(10) || chr(10)) as ps
                    from pd) x,
                   unnest(range(1, len(ps) + 1)) as u(i)
            ), ranked as (
              select *, case when nonblank then
                       row_number() over (partition by fp
                                          order by doc_id, pos)
                     else 1 end as rn
              from paras
            ), kept as (
              select * from ranked where rn = 1
            ), rebuilt as (
              select doc_id,
                     string_agg(para, chr(10) || chr(10) order by pos)
                       as clean,
                     count(*) as nkept
              from kept group by doc_id
            ), counts as (
              select doc_id, count(*) as nparas from paras group by doc_id
            )
            select c.doc_id,
                   coalesce(r.clean, '') as text,
                   cast(c.nparas - coalesce(r.nkept, 0) as bigint)
                     as removed_paragraphs
            from counts c left join rebuilt r using (doc_id)
        """)
def q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dolma-style keep-first paragraph dedup (new in r9): over a
    deterministic paragraph-structured view of the corpus (15-token
    groups joined by blank lines — the flat synthetic texts carry no
    newlines of their own), drop every occurrence of a paragraph
    except the globally first (min (doc_id, position)) and reassemble.
    Exercises the content-preserving corpus dedup pass
    (operators/dedup.py dedup_paragraphs) end-to-end."""
    docs = _t(spark, sf_dir, "documents")
    pdocs = docs.select(
        "doc_id",
        F.filter(
            F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), "\\s+"),
            lambda x: x != F.lit(""),
        ).alias("_t"),
    ).select(
        "doc_id",
        F.expr(
            "case when size(_t) = 0 then '' else array_join(transform("
            "sequence(0, (size(_t) + 14) div 15 - 1), "
            "i -> concat_ws(' ', slice(_t, i * 15 + 1, 15))), '\\n\\n') end"
        ).alias("text"),
    )
    return dedup.dedup_paragraphs(pdocs)


@query(oracle="""
            with hist as (
              select distinct
                md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) as fp
              from documents
              where doc_id % 2 = 0 and text is not null
            ), hpos as (
              select cast(('0x' || substr(md5(fp || ':' || j || ':bloom-v1'),
                                          1, 15)) as bigint) % 65536 as pos
              from hist, unnest(range(0, 4)) as u(j)
            ), bloom as (
              select pos // 32 as word,
                     cast(bit_or(cast(1 as bigint) << cast(pos % 32 as int))
                          as bigint) as bits
              from hpos group by pos // 32
            ), newdocs as (
              select doc_id,
                md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) as fp
              from documents
              where doc_id % 2 = 1
            ), npos as (
              select doc_id,
                cast(('0x' || substr(md5(fp || ':' || j || ':bloom-v1'),
                                     1, 15)) as bigint) % 65536 as pos
              from newdocs, unnest(range(0, 4)) as u(j)
              where fp is not null
            ), hits as (
              select n.doc_id,
                     min(case when ((coalesce(b.bits, 0)
                                     >> cast(n.pos % 32 as int)) & 1) = 1
                              then 1 else 0 end) as allhit
              from npos n left join bloom b on n.pos // 32 = b.word
              group by n.doc_id
            )
            select nd.doc_id,
                   coalesce(h.allhit, 0) = 1 as maybe_seen
            from (select distinct doc_id from newdocs) nd
            left join hits h using (doc_id)
        """)
def q_bloom_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter incremental dedup gate (new in r9): build the
    compact membership filter over the even-doc history, probe the odd
    half map-only — maybe_seen=false rows are guaranteed-new and skip
    the exact history anti-join entirely. Filter and probe are
    deterministic md5 bit positions, so the SQL replay reproduces the
    filter AND every probe verdict bit-for-bit (false positives
    included)."""
    docs = _t(spark, sf_dir, "documents")
    hist = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    bloom = dedup.bloom_fingerprint_index(hist, m_bits=1 << 16, k=4)
    return dedup.bloom_probe_new(new, bloom, m_bits=1 << 16, k=4)


def _quality_ntok_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared base for the budgeted-selection queries: per-doc integer
    quality key (text_analysis.with_quality_q — exact BIGINT floor
    divisions, no float anywhere) + whitespace token count."""
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.with_quality_q(docs).select(
        "doc_id",
        "source",
        "quality_q",
        text_analysis.ntok_expr("text").alias("ntok"),
    )


@query(oracle=f"""
            with b as ({_QUALITY_NTOK_BASE_SQL.format(qq=quality_q_sql())}),
            c as (
              select *,
                     cast(sum(ntok) over (partition by source
                          order by quality_q desc, doc_id asc
                          rows between unbounded preceding and current row)
                          as bigint) as cum_tokens
              from b
            )
            select doc_id, source, quality_q, ntok, cum_tokens
            from c where cum_tokens <= 800
        """)
def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget data selection (new in r9): spend at most
    800 tokens per source on that source's best documents (integer
    quality key DESC, doc_id tie-break). Two-level decomposition —
    level-table offsets + within-level cumsum — so no stratum ever
    occupies one window partition; selection boundary all-integer."""
    from unstructured_spark.operators.sampling import select_token_budget

    base = _quality_ntok_base(spark, sf_dir)
    return select_token_budget(base, 800).select(
        "doc_id", "source", "quality_q", "ntok", "cum_tokens"
    )


@query(oracle=f"""
            with b as ({_QUALITY_NTOK_BASE_SQL.format(qq=quality_q_sql())}),
            c as (
              select doc_id, source, quality_q,
                     cast(row_number() over (partition by source
                          order by quality_q desc, doc_id asc)
                          as bigint) as q_rank,
                     cast(count(*) over (partition by source)
                          as bigint) as nc
              from b
            )
            select doc_id, source, quality_q, q_rank
            from c where q_rank <= (nc * 2) // 5
        """)
def q_quality_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive per-source quality gate (new in r9): keep the top 2/5
    of each source's documents by the integer quality key — the
    threshold adapts to each source's own distribution. Exact integer
    kept-count (n*2 div 5); rank via the shared level-table prefix
    sum, never a per-source global window."""
    from unstructured_spark.operators.sampling import quality_cutoff

    base = _quality_ntok_base(spark, sf_dir)
    return quality_cutoff(base, 2, 5).select(
        "doc_id", "source", "quality_q", "q_rank"
    )


@query(oracle="""
            select doc_id,
                   md5(cast(doc_id as varchar) || ':ep0') as shuffle_key,
                   cast(row_number() over (
                        order by md5(cast(doc_id as varchar) || ':ep0'),
                                 doc_id) - 1
                        as bigint) as shuffle_rank
            from documents
        """)
def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle (new in r9): exact global training
    order md5(doc_id||':ep0'), reproducible across runs/engines/
    partitionings. Rank by 256-bucket distributed prefix sum on the
    key's own first hex byte — no global window, no orderBy(rand())."""
    from unstructured_spark.operators.sampling import corpus_shuffle

    docs = _t(spark, sf_dir, "documents")
    return corpus_shuffle(docs.select("doc_id"), seed="ep0").select(
        "doc_id", "shuffle_key", "shuffle_rank"
    )


@query(oracle="""
            with old as (
              select doc_id, source,
                     md5(lower(trim(regexp_replace(coalesce(text, ''),
                                                   '\\s+', ' ', 'g')))) as fp
              from documents
            ), newv as (
              select doc_id, source,
                case when doc_id % 7 = 3 then text || ' v2-rev'
                     else text end as text
              from documents where doc_id % 13 != 0
              union all
              select doc_id + 2000000 as doc_id, source, text
              from documents where doc_id % 11 = 5
            ), newfp as (
              select doc_id, source,
                     md5(lower(trim(regexp_replace(coalesce(text, ''),
                                                   '\\s+', ' ', 'g')))) as fp
              from newv
            ), d as (
              select coalesce(n.doc_id, o.doc_id) as doc_id,
                     coalesce(n.source, o.source) as source,
                case when o.fp is null then 'added'
                     when n.fp is null then 'removed'
                     when o.fp != n.fp then 'changed'
                     else 'unchanged' end as status
              from old o full outer join newfp n using (doc_id)
            )
            select source, status, cast(count(*) as bigint) as docs
            from d group by source, status
        """)
def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff (new r9): per-(source, status) counts
    between the documents table and a synthetic v2 (doc_id%13 slice
    removed, doc_id%7==3 texts revised, doc_id%11==5 docs re-added
    under new ids) — the release audit a dataset v2 ships with.
    Fingerprint comparison matches exact-dedup semantics
    (whitespace-normalized, case-folded md5); the only corpus shuffle
    is the full outer join on doc_id."""
    from unstructured_spark.operators.storage import corpus_diff_summary

    old = _t(spark, sf_dir, "documents")
    new = (
        old.filter(F.col("doc_id") % 13 != 0)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 7 == 3,
                F.concat(F.col("text"), F.lit(" v2-rev")),
            ).otherwise(F.col("text")),
        )
        .unionByName(
            old.filter(F.col("doc_id") % 11 == 5).withColumn(
                "doc_id", F.col("doc_id") + 2_000_000
            )
        )
    )
    return corpus_diff_summary(old, new)


@query(oracle=f"""
            with b as ({_QUALITY_NTOK_BASE_SQL.format(qq=quality_q_sql())}),
            bd as (
              select doc_id,
                     cast(quality_q // 1000000 as bigint) as band,
                     md5(cast(doc_id as varchar) || ':curriculum-v1') as k
              from b
            )
            select doc_id, band,
                   cast(row_number() over (order by band, k, doc_id) - 1
                        as bigint) as curriculum_rank
            from bd
        """)
def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum/annealing training order (new r9): exact global rank
    ordered by (quality band ASC, md5 shuffle key) — each band is one
    contiguous internally-shuffled block, so 'best data last'
    annealing is ORDER BY curriculum_rank on the loader side. Band =
    quality_q div 1e6 (≈ how many of the integer key's three signal
    terms the doc earns). Same distributed prefix sum as the epoch
    shuffle with the band prepended to the bucket key — no global
    window."""
    from unstructured_spark.operators.sampling import curriculum_order

    docs = _spread(_t(spark, sf_dir, "documents"))
    banded = text_analysis.with_quality_q(docs).select(
        "doc_id",
        F.expr("quality_q div 1000000").cast("bigint").alias("band"),
    )
    return curriculum_order(banded, "band", seed="curriculum-v1")


@query(oracle="""
            with lv as (
              select source,
                     cast(len(list_filter(string_split_regex(
                          trim(coalesce(text, '')), '\\s+'),
                          w -> w != '')) as bigint) as len_,
                     cast(count(*) as bigint) as c
              from documents
              group by 1, 2
            ), cum as (
              select source, len_,
                     cast(sum(c) over (partition by source order by len_
                          rows between unbounded preceding and current row)
                          as bigint) as cum,
                     cast(sum(c) over (partition by source)
                          as bigint) as n
              from lv
            )
            select source,
                   max(n) as docs,
                   min(case when 100 * cum >= 25 * n then len_ end)
                     as p25_tokens,
                   min(case when 100 * cum >= 50 * n then len_ end)
                     as p50_tokens,
                   min(case when 100 * cum >= 75 * n then len_ end)
                     as p75_tokens,
                   min(case when 100 * cum >= 95 * n then len_ end)
                     as p95_tokens
            from cum
            group by source
        """)
def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source token-length quantiles (new in r9): discrete
    lower quantiles by integer rank test (100*cum >= p*n) over a
    (source, length) level table — aggregate-only, no corpus sort, no
    per-row window, no float percentile interpolation."""
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.token_length_quantiles(docs)


@query(oracle="""
            with t as (
              select source,
                     string_split_regex(trim(coalesce(text, '')),
                                        '\\s+') as toks
              from documents
            ), tot as (
              select source,
                     cast(sum(greatest(len(toks) - 2, 0)) as bigint)
                       as total_grams
              from t group by 1
            ), g as (
              select distinct source,
                     unnest([toks[i] || '_' || toks[i+1] || '_' || toks[i+2]
                             for i in range(1, len(toks) - 1)]) as gram
              from t where len(toks) >= 3
            ), d as (
              select source, cast(count(*) as bigint) as distinct_grams
              from g group by 1
            )
            select tot.source,
                   total_grams,
                   cast(coalesce(distinct_grams, 0) as bigint)
                     as distinct_grams,
                   cast(case when total_grams = 0 then 0
                        else (1000000 * coalesce(distinct_grams, 0))
                             // total_grams end as bigint) as diversity_ppm
            from tot left join d on tot.source = d.source
        """)
def q_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source 3-gram diversity (new in r9): distinct grams as ppm
    of total gram positions — the cross-document template-ness signal
    per-doc quality scores miss. One totals aggregate + one
    (source, gram)-keyed distinct count; all-integer output."""
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.ngram_diversity(docs, n=3)


@query(oracle=f"""
            with q as (
              select source, cast({quality_q_sql()} as bigint) as v
              from (select source,
                           string_split_regex(trim(coalesce(text, '')),
                                              '\\s+') as t
                    from documents)
            ), lv as (
              select source, v, cast(count(*) as bigint) as c
              from q group by 1, 2
            ), cum as (
              select source, v,
                     cast(sum(c) over (partition by source order by v
                          rows between unbounded preceding and current row)
                          as bigint) as cum,
                     cast(sum(c) over (partition by source)
                          as bigint) as n
              from lv
            )
            select source,
                   max(n) as docs,
                   min(case when 100 * cum >= 10 * n then v end)
                     as p10_quality_q,
                   min(case when 100 * cum >= 50 * n then v end)
                     as p50_quality_q,
                   min(case when 100 * cum >= 90 * n then v end)
                     as p90_quality_q
            from cum
            group by source
        """)
def q_quality_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality distribution bands (new in r9): exact
    discrete quantiles of the integer quality key through the same
    grouped_integer_quantiles machinery as q_length_quantiles —
    release-table numbers for 'how good is each source'."""
    docs = _t(spark, sf_dir, "documents")
    base = text_analysis.with_quality_q(docs)
    return text_analysis.grouped_integer_quantiles(
        base, F.col("quality_q"), probs=(10, 50, 90), suffix="_quality_q"
    )


@query(oracle="""
            with fps as (
              select distinct
                md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) as fp
              from documents
              where text is not null
            ), pos as (
              select cast(('0x' || substr(md5(fp || ':' || j || ':bloom-v1'),
                                          1, 15)) as bigint) % 65536 as pos
              from fps, unnest(range(0, 4)) as u(j)
            )
            select pos // 32 as word,
                   cast(bit_or(cast(1 as bigint) << cast(pos % 32 as int))
                        as bigint) as bits
            from pos group by pos // 32
        """)
def q_bloom_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom index maintenance (new in r9): merge the even-doc and
    odd-doc half-corpus filters by OR-ing their sparse word tables —
    the no-rebuild incremental cycle. The oracle builds the
    WHOLE-corpus filter directly, so an external hash-green proves
    merge(bloom(A), bloom(B)) = bloom(A ∪ B) bit-for-bit."""
    docs = _t(spark, sf_dir, "documents")
    even = dedup.bloom_fingerprint_index(
        docs.filter(F.col("doc_id") % 2 == 0), m_bits=1 << 16, k=4
    )
    odd = dedup.bloom_fingerprint_index(
        docs.filter(F.col("doc_id") % 2 == 1), m_bits=1 << 16, k=4
    )
    return dedup.merge_bloom_indexes(even, odd)


@query(oracle=f"""
            with toks as (
              select source, lang,
                     string_split_regex(trim(coalesce(text, '')),
                                        '\\s+') as t,
                     cast(length(coalesce(text, '')) as bigint) as c,
                     md5(lower(trim(regexp_replace(coalesce(text, ''),
                                                   '\\s+', ' ', 'g')))) as fp
              from documents
            ), per as (
              select source, lang, c, fp,
                     cast(len(list_filter(t, w -> w != '')) as bigint) as n,
                     cast({quality_q_sql()} as bigint) as q
              from toks
            )
            select source, lang,
                   cast(count(*) as bigint) as docs,
                   cast(sum(n) as bigint) as tokens,
                   cast(sum(c) as bigint) as chars,
                   cast(count(distinct fp) as bigint) as uniq_docs,
                   cast((1000000 * (count(*) - count(distinct fp)))
                        // count(*) as bigint) as dup_ppm,
                   cast((2 * sum(q) + count(*)) // (2 * count(*))
                        as bigint) as avg_quality_q
            from per
            group by source, lang
        """)
def q_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datasheet-for-datasets rollup (new in r9): per (source, lang)
    volumes, exact-dup ppm, HALF_UP mean integer quality — the
    composition table a corpus release ships with. One strata groupBy
    + the exact distinct-fingerprint count; all-integer outputs."""
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.corpus_datasheet(docs)


@query(oracle="""
            with ranked as (
              select doc_id, source,
                     row_number() over (partition by source
                                        order by doc_id) as k,
                     case source when 'src0' then 5
                                 when 'src1' then 3
                                 else 1 end as w
              from documents
              where source in ('src0', 'src1', 'src2')
            ), vt as (
              select doc_id, source,
                     ((2 * k - 1) * 1048576) // w as t, k
              from ranked
            )
            select doc_id, source,
                   cast(row_number() over (order by t, source, k) - 1
                        as bigint) as emit_order
            from vt
        """)
def q_interleave_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted source interleave (new in r9): the
    data-loader emit order for a 5:3:1 mixture of three sources —
    low-discrepancy virtual-time schedule, all-integer, so the SQL
    replay reproduces the exact permutation."""
    from unstructured_spark.operators.sampling import interleave_by_weight

    docs = _t(spark, sf_dir, "documents")
    return interleave_by_weight(
        docs.select("doc_id", "source"),
        {"src0": 5, "src1": 3, "src2": 1},
    ).select("doc_id", "source", "emit_order")


@query(oracle=f"""
            with tok as (
              select doc_id,
                     unnest(list_filter(string_split(trim(coalesce(text, '')),
                                                     ' '), x -> x != '')) as t
              from documents
            ), cc as (
              select doc_id, cast(count(*) as bigint) as c
              from tok group by doc_id, t
            ), nt as (
              select doc_id, cast(sum(c) as bigint) as n
              from cc group by doc_id
            ), args as (
              select distinct m from (
                select c as m from cc union select n as m from nt)
            ), lns as (
              select m, {fxln_select_sql("m", "_f")} from args
            ), s as (
              select cc.doc_id,
                     cast(sum(cc.c * l._fln) as bigint) as sv
              from cc join lns l on cc.c = l.m
              group by cc.doc_id
            )
            select nt.doc_id, nt.n as n_tokens,
                   cast(((l2._fln - ((2 * s.sv + nt.n) // (2 * nt.n)))
                         * 1000000 + 1073741824) // 2147483648 as double)
                     / 1000000.0 as entropy
            from nt
            join s using (doc_id)
            join lns l2 on nt.n = l2.m
        """)
def q_unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Shannon entropy of the unigram distribution (new in
    r9): the compressibility/diversity quality signal, integer-exact
    through the fixed-point log so the SQL replay is bit-identical
    (no libm — the same fxln discipline as the perplexity family)."""
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.unigram_entropy(docs)


@query(oracle=_LSH_PAIRS_CTE.replace("with ", "with recursive ", 1)
    + """
            , edges as (
              select doc_a as a, doc_b as b from pairs
              union
              select doc_b as a, doc_a as b from pairs
            ), reach as (
              select a, b from edges
              union
              select r.a, e.b from reach r join edges e on r.b = e.a
                where e.b <> r.a
            ), labels as (
              select a as doc, least(a, min(b)) as lbl from reach group by a
            ), assigned as (
              select d.doc_id,
                     coalesce(l.lbl, d.doc_id) as split_group
              from (select cast(doc_id as bigint) as doc_id from documents) d
              left join labels l on d.doc_id = l.doc
            )
            select doc_id, split_group,
              case
                when cast(('0x' || substr(md5(cast(split_group as varchar)
                     || 'split-v1'), 1, 15)) as bigint)
                     / 1152921504606846976.0 < 0.9 then 'train'
                when cast(('0x' || substr(md5(cast(split_group as varchar)
                     || 'split-v1'), 1, 15)) as bigint)
                     / 1152921504606846976.0 < 0.95 then 'validation'
                else 'test'
              end as split
            from assigned
        """)
def q_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/val/test split: LSH clusters pin every
    near-duplicate group to one split (md5-uniform draw of the cluster
    label at 0.9/0.05/0.05) — the evaluation-leakage guard a training
    pipeline runs before sharding."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.leakage_safe_split(docs)


@query(oracle="""
            with counts as (
              select source, count(*) as n from documents
              where source is not null group by source
            ), z as (
              select sum(pow(n, 0.5)) as z from counts
            ), fr as (
              select source,
                     floor(least(1.0, 200.0 * (pow(n, 0.5) / (select z from z))
                                 / n) * 1000000.0 + 0.5)
                       / 1000000.0 as f
              from counts
            )
            select d.doc_id, d.source
            from documents d join fr using (source)
            where cast(('0x' || substr(md5(cast(d.doc_id as varchar) || 'temp-v1'),
                                       1, 15)) as bigint)
                  / 1152921504606846976.0 < fr.f
        """)
def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (T5/XLM-R convention): source
    weight ∝ n^0.5, 200-doc target, fractions 1e-9-quantized, applied
    as the deterministic per-stratum hash filter
    (operators/sampling.py temperature_mix)."""
    from unstructured_spark.operators.sampling import temperature_mix

    docs = _t(spark, sf_dir, "documents")
    return temperature_mix(
        docs, 200, alpha=0.5, seed="temp-v1"
    ).select("doc_id", "source")


@query(oracle="""
            select doc_id, source from documents
            where cast(('0x' || substr(md5(cast(doc_id as varchar) || 'mix-v1'),
                                       1, 15)) as bigint)
                  / 1152921504606846976.0
                < case source when 'src0' then 1.0
                              when 'src1' then 0.5
                              else 0.1 end
        """)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic source-mixing: per-stratum md5-hash sampling
    (keep 100% of src0, 50% of src1, 10% of everything else) — the
    map-only, engine-portable alternative to DataFrame.sample for
    reproducible training mixes."""
    from unstructured_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(
        docs,
        {"src0": 1.0, "src1": 0.5},
        strata_col="source",
        default_fraction=0.1,
        seed="mix-v1",
    ).select("doc_id", "source")


@query(oracle="""
            with t as (
              select doc_id,
                     cast(len(list_filter(string_split(trim(text), ' '),
                                          x -> x != '')) as bigint) as n
              from documents
            ), p as (
              select doc_id, n,
                     cast(coalesce(sum(n) over (order by doc_id
                       rows between unbounded preceding and 1 preceding), 0)
                       as bigint) as gstart
              from t
            ), e as (
              select doc_id, gstart, gstart + n as gend,
                     unnest(range(gstart // 256, (gstart + n - 1) // 256 + 1))
                       as seq_id
              from p where n > 0
            )
            select doc_id, seq_id,
                   greatest(seq_id * 256, gstart) - gstart as doc_token_start,
                   least((seq_id + 1) * 256, gend) - gstart as doc_token_end,
                   greatest(seq_id * 256, gstart) - seq_id * 256 as seq_token_start
            from e
        """)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: concatenate docs in id order, cut
    every 256 tokens, splitting docs across boundaries. The global
    token offset is a distributed prefix sum (per-block totals →
    broadcast offsets → within-block window); the oracle is the
    single naive global-window cumsum."""
    from unstructured_spark.operators.sampling import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    return pack_sequences(docs, 256)


@query(oracle=f"""
            with tf as (
              select doc_id, unnest(string_split(trim(text), ' ')) as term
              from documents
            ), tfc as (
              select doc_id, term, count(*) as tf
              from tf where term != '' group by doc_id, term
            ), dfreq as (
              select term, count(distinct doc_id) as df from tfc group by term
            ), lnn as (
              -- fixed-point integer ln(N): same fxln chain as Spark's
              -- driver-side fxln_int(N) literal (pinned equal by
              -- tests/test_fxln.py), so no libm on either engine.
              -- N rides in as a plain column: DuckDB's lateral aliases
              -- reject expressions that still contain a subquery
              select {fxln_select_sql("nv", "n_")}
              from (select count(*) as nv from documents)
            ), lnd as (
              select term, df, {fxln_select_sql("df", "d_")} from dfreq
            ), scored as (
              select t.doc_id, t.term,
                cast(t.tf * ((select n_ln from lnn) - d.d_ln)
                     as bigint) as tfidf_q
              from tfc t join lnd d on t.term = d.term
            )
            select doc_id, term, tfidf_q, cast(rank as bigint) as rank from (
              select *, row_number() over (
                partition by doc_id order by tfidf_q desc, term asc) as rank
              from scored
            ) where rank <= 3
        """)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per doc by tf·ln(N/df): one
    word-count shuffle + broadcast vocabulary join + per-doc top-k
    window. Scores are exact BIGINTs via the fixed-point integer log
    (ln N − ln df: integer arguments) — no libm on either engine."""
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.tfidf_top_terms(docs, k=3)


@query(oracle="""
            with t as (
              select doc_id, trim(text) as s,
                cast(greatest(len(list_filter(string_split(trim(text), ' '),
                                              x -> x != '')), 1)
                     as bigint) as words
              from documents
            ), c as (
              select doc_id, words,
                cast(greatest(len(regexp_extract_all(s, '[.!?]+')), 1)
                     as bigint) as sentences,
                cast(len(regexp_extract_all(lower(s), '[aeiouy]+'))
                  + len(list_filter(string_split(lower(s), ' '),
                                    x -> not regexp_matches(x, '[aeiouy]')))
                  as bigint) as syllables
              from t
            )
            select doc_id, words, sentences, syllables,
              floor((206.835
                     - 1.015 * (cast(words as double) / cast(sentences as double))
                     - 84.6 * (cast(syllables as double) / cast(words as double)))
                    * 10000 + 0.5) / 10000 as flesch
            from c
        """)
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease from deterministic word/sentence/syllable
    counts — native regexp expressions, zero shuffle."""
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.readability(docs)


@query(oracle="""
            with u as (
              select doc_id, n_chars,
                cast(('0x'||substr(md5(cast(doc_id as varchar)||'ws-v1'),
                                   1, 15)) as bigint)
                  / 1152921504606846976.0 as u
              from documents where n_chars > 0
            ), keyed as (
              select doc_id, n_chars,
                     -ln(u) / cast(n_chars as double) as wsk
              from u where u > 0
            )
            select doc_id, cast(n_chars as bigint) as n_chars,
                   floor(wsk * 1000000000.0 + 0.5) / 1000000000.0
                     as sampling_key
            from (
              select *, row_number() over (order by wsk asc, doc_id asc)
                        as rnk
              from keyed
            ) where rnk <= 50
        """)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis):
    50 documents drawn with probability proportional to n_chars via the
    deterministic md5-uniform exponential race — the quality/size-
    weighted corpus-mixing primitive. Map-only keys + one top-k."""
    from unstructured_spark.operators.sampling import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    out = weighted_sample(docs, 50, weight_col="n_chars")
    return out.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.col("_ws_key").alias("sampling_key"),
    )


@query(oracle=f"""
            with t as (
              select doc_id,
                     list_filter(string_split(trim(text), ' '), x -> x != '') as w
              from documents
            ), tb as (
              select doc_id, w from t where len(w) >= 2
            ), b as (
              select doc_id, w[i] as w1, w[i + 1] as w2
              from tb, unnest(range(1, len(w))) as u(i)
            ), bc as (
              select w1, w2, count(*) as c12 from b group by w1, w2
            ), uc as (
              select w1, count(*) as c1 from b group by w1
            ), vocab as (
              select count(distinct t) as v from (
                select w1 as t from b union select w2 as t from b)
            ){_NLL_FX_CTE}
            select doc_id,
                   cast((2 * sum(nlq) + count(*)) // (2 * count(*))
                        as double) / 1000000.0 as cross_entropy,
                   cast(count(*) as bigint) as n_bigrams
            from nll group by doc_id
        """)
def q_bigram_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/KenLM-style perplexity filter reduced to an in-engine
    add-one-smoothed bigram LM: per-doc avg -ln P(w2|w1) under the
    corpus's own bigram statistics. High scores = gibberish/boilerplate
    candidates for the training-data quality gate."""
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.bigram_cross_entropy(docs)


@query(oracle="""
            with tok0 as (
              select source as shard,
                     unnest(list_filter(string_split(trim(text), ' '),
                                        x -> x != '')) as t
              from documents
            ), cc as (
              -- top-500 vocabulary by corpus frequency, token tiebreak
              -- (mirrors token_kl_drift(max_vocab=500))
              select t, count(*) as c from tok0 group by t
              order by c desc, t asc limit 500
            ), tok as (
              select tok0.shard, tok0.t from tok0 join cc using (t)
            ), sc as (
              select shard, t, count(*) as cs from tok group by shard, t
            ), stot as (
              select shard, count(*) as ns from tok group by shard
            ), tot as (
              select count(*) as n, count(distinct t) as v from tok
            ), grid as (
              select s.shard, s.ns, c.t, c.c from stot s cross join cc c
            ), terms as (
              select g.shard,
                cast(coalesce(sc.cs, 0) + 1 as double)
                  / cast(g.ns + (select v from tot) as double) as ps,
                cast(g.c + 1 as double)
                  / cast((select n from tot) + (select v from tot) as double) as q
              from grid g left join sc on sc.shard = g.shard and sc.t = g.t
            ), quant as (
              select shard,
                cast(floor(ps * ln(ps / q) * 1000000000000.0 + 0.5)
                     as bigint) as tq
              from terms
            )
            select shard as source,
                   floor(greatest(cast(sum(tq) as double) / 1000000000000.0,
                                  0.0) * 1000000.0 + 0.5) / 1000000.0
                     as kl_divergence
            from quant group by shard
        """)
def q_token_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL(p_shard || p_corpus) over smoothed token
    distributions — the shard-drift monitor run before mixing
    multi-source training data. Exercises the top-N vocabulary cap
    (the 100 TB lever that bounds the shards × vocab grid)."""
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.token_kl_drift(docs, max_vocab=500)


@query(oracle="""
            with t as (
              select doc_id,
                     list_filter(string_split(trim(coalesce(text, '')), ' '),
                                 x -> x != '') as w
              from documents
            ), pd0 as (
              select doc_id, w,
                     case when len(w) = 0 then '' else
                       array_to_string(list_transform(
                         range(0, (len(w) + 14) // 15),
                         i -> array_to_string(w[i * 15 + 1 : i * 15 + 15], ' ')),
                         chr(10) || chr(10)) end as pt
              from t
            ), pd as (
              select doc_id,
                     case when len(w) > 15 then
                       pt || chr(10) || chr(10)
                          || array_to_string(w[1:15], ' ')
                     else pt end as text
              from pd0
            ), paras as (
              select doc_id, i as pos, ps[i] as para,
                     md5(lower(trim(regexp_replace(ps[i], '\\s+', ' ', 'g'))))
                       as fp,
                     trim(regexp_replace(ps[i], '\\s+', ' ', 'g')) != ''
                       as nonblank
              from (select doc_id,
                           string_split(text, chr(10) || chr(10)) as ps
                    from pd) x,
                   unnest(range(1, len(ps) + 1)) as u(i)
            ), ranked as (
              select *, case when nonblank then
                       row_number() over (partition by doc_id, fp
                                          order by pos)
                     else 1 end as rn
              from paras
            ), kept as (
              select * from ranked where rn = 1
            ), rebuilt as (
              select doc_id,
                     string_agg(para, chr(10) || chr(10) order by pos)
                       as clean,
                     count(*) as nkept
              from kept group by doc_id
            ), counts as (
              select doc_id, count(*) as nparas from paras group by doc_id
            )
            select c.doc_id,
                   coalesce(r.clean, '') as text,
                   cast(c.nparas - coalesce(r.nkept, 0) as bigint)
                     as removed_paragraphs
            from counts c left join rebuilt r using (doc_id)
        """)
def q_dedup_within_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document paragraph dedup (Dolma/Gopher repetition REMOVAL,
    within-doc scope; new in r10): over the deterministic
    paragraph-structured corpus view (15-token groups joined by blank
    lines) with each multi-paragraph doc's FIRST paragraph re-appended
    at its end (so every such doc carries exactly one within-doc
    repeat), drop repeats of earlier paragraphs inside each document
    and reassemble. ZERO-shuffle plan: one projection of higher-order
    array expressions (operators/dedup.py dedup_within_doc)."""
    docs = _t(spark, sf_dir, "documents")
    pdocs = docs.select(
        "doc_id",
        F.filter(
            F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), "\\s+"),
            lambda x: x != F.lit(""),
        ).alias("_t"),
    ).select(
        "doc_id",
        F.expr(
            "case when size(_t) = 0 then '' else array_join(transform("
            "sequence(0, (size(_t) + 14) div 15 - 1), "
            "i -> concat_ws(' ', slice(_t, i * 15 + 1, 15))), '\\n\\n') end"
        ).alias("_pt"),
        F.expr("concat_ws(' ', slice(_t, 1, 15))").alias("_p1"),
        F.size("_t").alias("_nt"),
    ).select(
        "doc_id",
        F.expr(
            "case when _nt > 15 then concat(_pt, '\\n\\n', _p1) "
            "else _pt end"
        ).alias("text"),
    )
    return dedup.dedup_within_doc(pdocs)


@query(oracle=f"""
            with t as (
              select doc_id,
                     list_filter(string_split(trim(text), ' '), x -> x != '') as w
              from documents
            ), tb as (
              select doc_id, w from t where len(w) >= 2
            ), b as (
              select doc_id, w[i] as w1, w[i + 1] as w2
              from tb, unnest(range(1, len(w))) as u(i)
            ), bc as (
              select w1, w2, count(*) as c12 from b group by w1, w2
            ), uc as (
              select w1, count(*) as c1 from b group by w1
            ), vocab as (
              select count(distinct t) as v from (
                select w1 as t from b union select w2 as t from b)
            ){_NLL_FX_CTE}, perdoc as (
              select doc_id,
                     (2 * sum(nlq) + count(*)) // (2 * count(*)) as score_q,
                     count(*) as nb
              from nll group by doc_id
            ), dom as (
              select d.source as strata,
                     count(*) as docs,
                     sum(p.nb) as tokens,
                     sum(p.score_q) as ssum
              from perdoc p join documents d using (doc_id)
              group by d.source
            ), tot as (
              select sum(docs) as gdocs, sum(ssum) as gsum,
                     sum(tokens) as gtok
              from dom
            ), enriched as (
              select strata, docs, tokens,
                     (2 * ssum + docs) // (2 * docs) as mean_score_q,
                     (2 * gsum + gdocs) // (2 * gdocs) as gmean,
                     (tokens * 1000000) // gtok as base_ppm
              from dom cross join tot
            ), mult as (
              select *,
                     greatest(0, 1000000 - 1000000 +
                       (((mean_score_q * 1000000) // greatest(gmean, 1))
                        * 1000000) // 1000000) as mult_ppm
              from enriched
            ), raws as (
              select *, base_ppm * mult_ppm as raw,
                     sum(base_ppm * mult_ppm) over () as rawsum
              from mult
            )
            select strata as source,
                   cast(docs as bigint) as docs,
                   cast(tokens as bigint) as tokens,
                   cast(mean_score_q as bigint) as mean_score_q,
                   cast(base_ppm as bigint) as base_ppm,
                   cast(mult_ppm as bigint) as mult_ppm,
                   cast((raw * 1000000) // greatest(rawsum, 1) as bigint)
                     as weight_ppm
            from raws
        """)
def q_mixture_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linearized DoReMi domain reweighting (new in r10): score every
    document with the corpus bigram-LM cross-entropy (integer 1e-6
    grid), then per SOURCE compute the token share, the mean score's
    excess over the corpus mean, and the renormalized up/down-weighted
    mixture — one exponentiated-gradient step, all-integer
    (operators/sampling.py mixture_reweight). The oracle replays the
    full LM scoring plus the ppm weight chain."""
    from unstructured_spark.operators.sampling import mixture_reweight

    docs = _t(spark, sf_dir, "documents")
    ce = text_analysis.bigram_cross_entropy(docs)
    scored = ce.join(docs.select("doc_id", "source"), "doc_id").select(
        "source",
        F.round(F.col("cross_entropy") * 1e6).cast("long").alias("score_q"),
        "n_bigrams",
    )
    return mixture_reweight(
        scored,
        score_col="score_q",
        token_col="n_bigrams",
        strata_col="source",
    )


@query(oracle="""
            with fp as (
              select doc_id,
                     md5(lower(trim(regexp_replace(coalesce(text, ''),
                                                   '\\s+', ' ', 'g'))))
                       as f
              from documents
            ), counts as (
              select f, count(*) as n from fp group by f
            )
            select fp.doc_id,
                   cast(c.n as bigint) as dup_count,
                   cast(1000000 // c.n as bigint) as weight_ppm
            from fp join counts c using (f)
        """)
def q_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SoftDeDup per-document sampling weights (new in r10): exact-dup
    group size -> 1e6 div size ppm weight, so a duplicate group's total
    sampling mass equals one document and nothing is dropped. One
    fingerprint-keyed window shuffle (operators/dedup.py
    soft_dedup_weights)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.soft_dedup_weights(docs)


@query(oracle=_LSH_PAIRS_CTE + """
            select least(coalesce(da.source, '__null__'),
                         coalesce(db.source, '__null__')) as source_a,
                   greatest(coalesce(da.source, '__null__'),
                            coalesce(db.source, '__null__')) as source_b,
                   cast(count(*) as bigint) as dup_pairs
            from pairs p
            join documents da on da.doc_id = p.doc_a
            join documents db on db.doc_id = p.doc_b
            group by 1, 2
        """)
def q_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix (new in r10): per unordered
    source pair, the number of LSH near-dup candidate pairs straddling
    them — the which-corpus-overlaps-which release diagnostic. Banded
    LSH pairs + two id-keyed label joins + a |sources|^2 aggregate;
    the oracle replays the full minhash/banding pipeline."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.cross_source_dup_matrix(docs)


@query(oracle=_NB_RANKED_CTE + """
            , pred as (
              select doc_id,
                     max(case when rn = 1 then cls end) as predicted
              from ranked group by doc_id
            )
            select p.predicted,
                   d.source as actual,
                   cast(count(*) as bigint) as docs
            from pred p join documents d using (doc_id)
            group by 1, 2
        """)
def q_nb_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier QA confusion matrix (new in r10): the NB quality
    gate's predicted class vs each document's ACTUAL source — the
    calibration table a pipeline owner reads before trusting the gate
    as a filter (which sources leak into which predictions, per-class
    support). Composes the oracled nb_classify with one (predicted,
    actual) aggregate; |classes|^2 output rows."""
    from unstructured_spark.operators.classifier import nb_classify

    docs = _t(spark, sf_dir, "documents")
    seed = docs.filter(F.col("doc_id") % 10 < 3)
    scored = nb_classify(
        docs, seed, label="source", buckets=4096, max_tokens=64,
        seed_in_corpus=True,
    ).select("doc_id", "predicted")
    return (
        scored.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy(
            F.col("predicted"), F.col("source").alias("actual")
        )
        .agg(F.count("*").cast("bigint").alias("docs"))
    )


# HLL oracle constants — the SAME integers the Spark estimator embeds
# (operators/sketches.py): alpha_4096 in 2^-20 fixed point, ln(4096)
# on the fxln 2^31 grid.
_HLL_ALPHA_Q = hll_alpha_q20(4096)
_HLL_LNM = fxln_int(4096)


# the ESTIMATOR itself replays bit for bit: integer rho via
# bin(), exact power-of-two harmonic sum, fixed-point alpha,
# fxln linear counting — not just the exact side
@query(oracle=f"""
            with tok as (
              -- regexp split matches Spark's \\s+ tokenizer exactly
              -- (string_split ' ' would silently diverge on any tab /
              -- newline / double space in a future fixture)
              select source,
                     unnest(list_filter(
                       regexp_split_to_array(trim(coalesce(text, '')),
                                             '\\s+'),
                       x -> x != '')) as token
              from documents
            ), h as (
              select source,
                     cast(('0x' || substr(md5(token), 1, 15)) as bigint)
                       as hv
              from tok
            ), r as (
              select source, hv % 4096 as j,
                     case when hv // 4096 > 0
                          then 49 - length(bin(hv // 4096))
                          else 49 end as rho
              from h
            ), regs as (
              select source, j, max(rho) as m_j from r group by source, j
            ), agg as (
              select source,
                     count(*) as nregs,
                     cast(sum(1::bigint << (49 - m_j)) as bigint)
                       as spresent
              from regs group by source
            ), staged as (
              select source,
                     spresent + (4096 - nregs) * (1::bigint << 49) as s,
                     4096 - nregs as v
              from agg
            ), rawd as (
              select source, v,
                     cast((cast({_HLL_ALPHA_Q} as hugeint) * 4096 * 4096
                           * (1::bigint << 49)) // s // 1048576 as bigint)
                       as raw
              from staged
            ), lined as (
              select source, v, raw,
                     {fxln_select_sql("greatest(v, 1)", "lv_")}
              from rawd
            ), est as (
              select source,
                     case when v > 0 and raw <= 10240
                          then (4096 * ({_HLL_LNM} - lv_ln)) // 2147483648
                          else raw end as de
              from lined
            ), exact as (
              select source,
                     cast(count(distinct token) as bigint) as exact_distinct
              from tok group by source
            )
            select est.source,
                   cast(est.de as bigint) as distinct_est,
                   e.exact_distinct,
                   cast((est.de - e.exact_distinct) * 1000000
                        // e.exact_distinct as bigint) as err_ppm
            from est join exact e using (source)
        """)
def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-exact HyperLogLog audit (new in r11): per-source distinct
    token estimate from 4096 integer registers vs the exact distinct
    count, with signed error ppm. The whole estimator — rho via binary
    digit counts, harmonic sum as exact power-of-two bigints, alpha in
    2^-20 fixed point, linear counting through fxln — is integer
    arithmetic, so the DuckDB oracle replays the ESTIMATE bit for bit
    (not just the exact side). operators/sketches.py."""
    from unstructured_spark.operators.sketches import hll_distinct_audit

    docs = _t(spark, sf_dir, "documents")
    return hll_distinct_audit(docs)
