"""Document-ETL spine (SURVEY §3.1): partition → elements → clean →
chunk, with language identification and PII redaction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from entry_queries.common import (
    _PII_AUG_CTE,
    _P_CC,
    _P_EMAIL,
    _P_IP,
    _P_PHONE,
    _P_SSN,
    _t,
    query,
)


@query(oracle="""
            with toks as (
              select doc_id,
                     unnest([{'pos': i - 1, 'token': t[i]}
                             for i in range(1, len(t) + 1)],
                            recursive := true)
              from (select doc_id, string_split(trim(text), ' ') as t
                    from documents)
            )
            select doc_id,
                   cast(floor(pos / 40) as bigint) as chunk_index,
                   string_agg(token, ' ' order by pos) as chunk_text,
                   count(*) as n_tokens
            from toks
            group by doc_id, chunk_index
        """)
def q_chunk_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token chunking (40-token windows) — the SQL-expressible
    chunking baseline; semantic chunking (by_title) is exercised in unit
    tests over element tables."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split(F.trim("text"), "\\s+")).alias("pos", "token")
    )
    return (
        toks.groupBy("doc_id", F.floor(F.col("pos") / 40).alias("chunk_index"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "token"))),
                    lambda s: s["token"],
                ),
                " ",
            ).alias("chunk_text"),
            F.count("*").alias("n_tokens"),
        )
    )


@query(oracle="""
            with scored as (
              select doc_id,
                len(list_intersect(string_split(lower(trim(text)), ' '),
                    ['the','and','of','to','is'])) as s_eng,
                len(list_intersect(string_split(lower(trim(text)), ' '),
                    ['el','la','que','por','una'])) as s_spa,
                len(list_intersect(string_split(lower(trim(text)), ' '),
                    ['le','les','des','est','dans'])) as s_fra,
                len(list_intersect(string_split(lower(trim(text)), ' '),
                    ['der','die','das','und','ist'])) as s_deu
              from documents
            )
            select doc_id,
                   case when s_eng >= greatest(s_eng, s_spa, s_fra, s_deu) then 'eng'
                        when s_spa >= greatest(s_eng, s_spa, s_fra, s_deu) then 'spa'
                        when s_fra >= greatest(s_eng, s_spa, s_fra, s_deu) then 'fra'
                        else 'deu' end as detected_lang,
                   cast(greatest(s_eng, s_spa, s_fra, s_deu) as bigint) as marker_hits
            from scored
        """)
def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language scoring with deterministic tie-break."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim("text")), "\\s+")
    markers = {
        "eng": ("the", "and", "of", "to", "is"),
        "spa": ("el", "la", "que", "por", "una"),
        "fra": ("le", "les", "des", "est", "dans"),
        "deu": ("der", "die", "das", "und", "ist"),
    }
    scores = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(m) for m in ms])))
        for lang, ms in markers.items()
    }
    best = F.greatest(*scores.values())
    expr = (
        F.when(scores["eng"] == best, F.lit("eng"))
        .when(scores["spa"] == best, F.lit("spa"))
        .when(scores["fra"] == best, F.lit("fra"))
        .otherwise(F.lit("deu"))
    )
    return docs.select(
        "doc_id",
        expr.alias("detected_lang"),
        best.cast("bigint").alias("marker_hits"),
    )


@query(oracle="""
            select doc_id,
                   md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) as clean_md5,
                   cast(length(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) as bigint) as clean_len
            from documents
        """)
def q_cleaned_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cleaner composition (clean_extra_whitespace + lowercase) — the
    function-library surface over a full table scan."""
    docs = _t(spark, sf_dir, "documents")
    cleaned = F.lower(F.trim(F.regexp_replace("text", "\\s+", " ")))
    return docs.select(
        "doc_id",
        F.md5(cleaned).alias("clean_md5"),
        F.length(cleaned).cast("bigint").alias("clean_len"),
    )


def _docs_as_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.encode("text", "utf-8").alias("content"),
        F.concat(F.lit("doc_"), F.col("doc_id"), F.lit(".txt")).alias("path"),
    )


def _partition_elements_sql() -> str:
    """SQL replay of the .txt partition spine (q_partition_elements):
    CASE classification over the reference predicate chain (bullet →
    email → US address → numbered list → narrative → title → Text),
    stopword-profile language argmax, sha256 hash ids, element_index 0.
    Predicate lexicons/regexes are imported from the package so engine
    and oracle can't drift. Precondition (holds for the synthetic
    corpus, asserted by the where clause shape): documents are
    single-paragraph (no newlines), so each doc yields exactly one
    element and the hierarchy fold leaves parent_id NULL."""
    from unstructured_spark.functions.patterns import (
        _BULLET_CLASS,
        EMAIL_ADDRESS,
        NUMBERED_LIST,
        US_CITY_STATE_ZIP,
    )
    from unstructured_spark.operators.metadata import _LANG_MARKERS
    from unstructured_spark.parsers.classify import (
        _COMMON_VERBS,
        _VERB_SUFFIX_FALSE_POSITIVES,
    )

    def q(p: str) -> str:  # escape single quotes for SQL literals
        return p.replace("'", "''")

    verbs = ", ".join(f"'{v}'" for v in sorted(_COMMON_VERBS))
    fps = ", ".join(f"'{v}'" for v in sorted(_VERB_SUFFIX_FALSE_POSITIVES))
    # argmax with Spark array_max struct semantics (score, then lang
    # lexicographically) via a sortable zero-padded string
    lang_keys = ", ".join(
        "lpad(cast(len(list_intersect(ltoks, [%s])) as varchar), 10, '0') || '%s'"
        % (", ".join(f"'{m}'" for m in markers), lang)
        for lang, markers in _LANG_MARKERS.items()
    )
    bullet_re = q(f"^[{_BULLET_CLASS}]( |$)")
    sent_split = "[.!?] |[.!?]$|[。！？։؟۔।።]"
    return f"""
with base as (
  select cast(doc_id as varchar) as doc_id, trim(text) as t,
         'doc_' || cast(doc_id as varchar) || '.txt' as fname
  from documents
  where trim(text) != ''
), feats as (
  select *,
    string_split_regex(t, '\\s+') as toks,
    string_split_regex(lower(t), '\\s+') as ltoks,
    regexp_split_to_array(t, '{sent_split}') as sparts,
    regexp_replace(t, '\\s', '', 'g') as nonspace
  from base
), preds as (
  select doc_id, t, fname, toks, ltoks,
    len(toks) as wc,
    len(list_filter(sparts, p -> trim(p) != '' and
        len(list_filter(string_split_regex(trim(p), '\\s+'), w -> w != '')) >= 3)) as sent3,
    len(list_filter(sparts, p -> trim(p) != '' and
        len(list_filter(string_split_regex(trim(p), '\\s+'), w -> w != '')) >= 5)) as sent5,
    regexp_full_match(t, '[0-9.,$%() \\-]+') and regexp_matches(t, '[0-9]') as numeric_,
    (len(nonspace) > 0 and
     cast(len(regexp_replace(nonspace, '[^\\p{{L}}]', '', 'g')) as double)
       / len(nonspace) >= 0.5) as alpha_ok,
    -- exceeds_cap_ratio, reference text_type.py:236-267: multi-
    -- sentence exempt; all-caps exceeds; no alpha tokens exceeds;
    -- capitalized = istitle-or-isupper over ALPHA-ONLY tokens
    (case when len(list_filter(sparts, p -> trim(p) != '' and
            len(list_filter(string_split_regex(trim(p), '\\s+'), w -> w != '')) >= 3)) > 1
        then false
      when t = upper(t) and regexp_matches(t, '\\p{{Lu}}') then true
      when len(list_filter(toks, w -> regexp_full_match(w, '\\p{{L}}+'))) = 0 then true
      else cast(len(list_filter(toks, w -> regexp_full_match(w,
                    '\\p{{Lu}}(\\p{{Ll}}*|\\p{{Lu}}*)'))) as double)
           / len(list_filter(toks, w -> regexp_full_match(w, '\\p{{L}}+'))) > 0.5
     end) as caps_exceed,
    (len(list_intersect(ltoks, [{verbs}])) > 0
     or len(list_filter(regexp_extract_all(t, '(?i)\\b\\p{{L}}{{3,}}(?:ing|ed)\\b'),
             m -> not list_contains([{fps}], lower(m)))) > 0) as has_verb,
    regexp_matches(t, '{bullet_re}') as bullet_,
    regexp_full_match(t, '{q(EMAIL_ADDRESS)}') as email_,
    regexp_full_match(t, '{q(US_CITY_STATE_ZIP)}') as zip_,
    regexp_matches(t, '{q(NUMBERED_LIST)}') as numlist_
  from feats
), typed as (
  select doc_id, t, fname, ltoks,
    case
      when bullet_ then 'ListItem'
      when email_ then 'EmailAddress'
      when zip_ then 'Address'
      when numlist_ then 'ListItem'
      when (not numeric_) and not caps_exceed
           and alpha_ok and (has_verb or sent3 >= 2) then 'NarrativeText'
      when wc <= 12 and sent5 <= 1 and (not numeric_) and alpha_ok
           and not t like '%,'
           and not (t = upper(t) and regexp_matches(t, '\\p{{Lu}}')
                    and regexp_matches(t, '[^\\w\\s]$')) then 'Title'
      else 'Text'
    end as type
  from preds
), langed as (
  select *,
    case when len(ltoks) < 5 then 'eng'
         else substr(greatest({lang_keys}), 11) end as lang
  from typed
)
select doc_id, cast(0 as bigint) as element_index,
       substr(sha256(fname || t || '' || '0'), 1, 32) as element_id,
       type, t as text, lang as languages,
       cast(null as varchar) as parent_id
from langed
"""


@query(oracle=_partition_elements_sql())
def q_partition_elements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → auto-partition (mapInPandas) → canonical element rows
    with hash ids, languages, hierarchy."""
    from unstructured_spark.operators.partition_auto import partition_documents

    els = partition_documents(_docs_as_files(spark, sf_dir))
    # arrays are serialized: the driver's row-hash can't digest list cells
    return els.select(
        "doc_id", "element_index", "element_id", "type", "text",
        F.concat_ws(",", "languages").alias("languages"), "parent_id",
    )


# chunk-by-title replay: the synthetic corpus is
# single-paragraph (one element per doc, no combine step), so
# the fold reduces to the reference-exact _split_once loop —
# rightmost space with match start in [1, maxlen], fragment
# rstripped / remainder lstripped, hard cut at maxlen when no
# space (overlap=0) — expressed as a RECURSIVE CTE. The Spark
# side runs the full grouped chunker; any drift in either
# implementation breaks the hash.
@query(oracle="""
with recursive base as (
  select cast(doc_id as varchar) as doc_id, trim(text) as t
  from documents where trim(text) != ''
), s as (
  select doc_id, t as rem, cast(-1 as bigint) as idx,
         cast(null as varchar) as frag
  from base
  union all
  select doc_id,
    case when len(rem) > 500 then
      ltrim(substr(rem,
        (case when regexp_extract(substr(rem, 1, 501), '^(.*) ', 1) != ''
              then len(regexp_extract(substr(rem, 1, 501), '^(.*) ', 1)) + 1
              else 500 end) + 1))
    else '' end as rem,
    idx + 1 as idx,
    case when len(rem) > 500 then
      rtrim(case when regexp_extract(substr(rem, 1, 501), '^(.*) ', 1) != ''
                 then regexp_extract(substr(rem, 1, 501), '^(.*) ', 1)
                 else substr(rem, 1, 500) end)
    else rem end as frag
  from s where rem != ''
)
select doc_id, idx as element_index, 'CompositeElement' as type, frag as text
from s where idx >= 0
        """)
def q_chunk_by_title(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition then chunk with the by_title strategy — the reference's
    one-call ``partition(file, chunking_strategy='by_title')`` flow:
    the chunk fold rides the parse UDF (one stage, no doc_id
    re-exchange; tests/test_chunking.py pins it equal to
    chunk_by_title(partition_documents(...)))."""
    from unstructured_spark.operators.partition_auto import partition_and_chunk

    chunks = partition_and_chunk(
        _docs_as_files(spark, sf_dir),
        chunking_strategy="by_title",
        chunk_kwargs={"max_characters": 500, "combine_text_under_n_chars": 200},
    )
    return chunks.select("doc_id", "element_index", "type", "text")


def _pii_augmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with deterministic synthetic PII appended (email +
    strict phone always; Luhn-valid card on doc_id%3==0, Luhn-INVALID
    card on %3==1; SSN+IP on %5==0) so the PII queries exercise every
    detector non-degenerately. The oracle builds the identical text."""
    docs = _t(spark, sf_dir, "documents")
    return docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com"),
            F.lit(" tel (555) 123-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(" card 4111-1111-1111-1111"))
            .when(F.col("doc_id") % 3 == 1, F.lit(" card 4111111111111112"))
            .otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0, F.lit(" ssn 123-45-6789 ip 10.0.0.1")
            ).otherwise(F.lit("")),
        ),
    )


@query(oracle="""
            with """ + _PII_AUG_CTE + """,
            cands as (
              select doc_id, unnest(regexp_extract_all(text, '""" + _P_CC + """')) as c
              from aug
            ), rd as (
              select doc_id, reverse(regexp_replace(c, '[^0-9]', '', 'g')) as rd
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
            ), base as (
              select doc_id,
                cast(len(regexp_extract_all(text, '""" + _P_EMAIL + """')) as bigint) as emails,
                cast(len(regexp_extract_all(text, '""" + _P_PHONE + """')) as bigint) as phones,
                cast(len(regexp_extract_all(text, '""" + _P_IP + """')) as bigint) as ip_addresses,
                cast(len(regexp_extract_all(text, '""" + _P_SSN + """')) as bigint) as ssns
              from aug
            )
            select b.doc_id, emails, phones, ip_addresses, ssns,
                   coalesce(cc.credit_cards, 0) as credit_cards,
                   emails + phones + ip_addresses + ssns
                     + coalesce(cc.credit_cards, 0) as pii_total
            from base b left join cc on b.doc_id = cc.doc_id
        """)
def q_pii_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc PII counts (emails/phones/IPs/SSNs/Luhn-valid cards) —
    native regexp_extract_all + a Luhn fold, zero shuffles; the
    %3==1 docs carry a checksum-INVALID card the Luhn filter must
    reject while the loose candidate regex still sees it."""
    from unstructured_spark.operators import pii

    return pii.pii_stats(_pii_augmented(spark, sf_dir))


@query(oracle="""
            with """ + _PII_AUG_CTE + """
            select doc_id,
              regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                regexp_replace(text, '""" + _P_EMAIL + """', '[EMAIL]', 'g'),
                '""" + _P_CC + """', '[CARD]', 'g'),
                '""" + _P_SSN + """', '[SSN]', 'g'),
                '""" + _P_PHONE + """', '[PHONE]', 'g'),
                '""" + _P_IP + """', '[IP]', 'g') as text
            from aug
        """)
def q_redacted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-placeholder PII redaction (email→[EMAIL], card→[CARD],
    ssn→[SSN], phone→[PHONE], ip→[IP]) in dependency order — cards
    before phones so digit groups aren't half-eaten. Map-only."""
    from unstructured_spark.operators import pii

    return pii.redact_docs(_pii_augmented(spark, sf_dir)).select("doc_id", "text")
