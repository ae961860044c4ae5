"""What every query family shares: the table reader, the registry row
and the oracle CTEs that more than one query composes.

NOTE: ``_t()`` mutates session-global SQL confs on the caller's
SparkSession (``spark.sql.session.timeZone=UTC``,
``spark.sql.parquet.inferTimestampNTZ.enabled=false`` and, once the
events table is read, ``spark.sql.legacy.parquet.nanosAsLong=true``).
These are required for parity with the tz-naive DuckDB oracle and they
persist for subsequent reads on the same session — there is no
per-read scope for these confs in Spark.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from unstructured_spark.functions import patterns as _pat
from unstructured_spark.operators.text_analysis import fxln_select_sql

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Testdata stores timestamps without a timezone (TIMESTAMP_NTZ to
    # Spark 4's default reader) and, in older driver generations,
    # TIMESTAMP(NANOS). Read them as TIMESTAMP_LTZ at the scan with the
    # session timezone pinned to UTC (so LTZ values equal the tz-naive
    # oracle's) so unix_micros/date functions work and filters still
    # push down to parquet.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            # integer division — double math would round the tail digits
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


class Query(NamedTuple):
    """One registered query: the Spark builder and the DuckDB SQL that
    must return the same rows over the same tables."""

    build: Callable[[SparkSession, str], DataFrame]
    oracle: str


# name -> row, in registration order; reloading a family module
# replaces its rows in place
ROWS: dict[str, Query] = {}


def query(*, oracle: str):
    """Register the decorated builder as a query named after the
    function, checked against ``oracle``."""

    def register(build):
        ROWS[build.__name__] = Query(build, oracle)
        return build

    return register


# Shared bigram-LM scoring tail for the bigram-CE / perplexity oracles:
# -ln P through the fixed-point INTEGER log (text_analysis.fxln_steps) so
# DuckDB reproduces Spark's bigints exactly — no libm ln(), no 1-ulp
# floor(+0.5) flips across engines (the r5-r7 driver-red root cause).
_NLL_FX_CTE = f""", margs as (
              select b.doc_id,
                     uc.c1 + (select v from vocab) as ma,
                     bc.c12 + 1 as mb
              from b join bc on b.w1 = bc.w1 and b.w2 = bc.w2
                     join uc on b.w1 = uc.w1
            ), nllx as (
              select doc_id,
                     {fxln_select_sql("ma", "a_")},
                     {fxln_select_sql("mb", "b_")}
              from margs
            ), nll as (
              select doc_id,
                     ((a_ln - b_ln) * 1000000 + 1073741824) // 2147483648 as nlq
              from nllx
            )"""


# Naive-Bayes train+score oracle chain (shared by q_nb_classify and
# q_nb_confusion): tok -> features -> bucket hash -> seed counts ->
# dense grid -> fxln log-probs -> per-(doc, class) scores -> rank.
_NB_RANKED_CTE = f"""
            with tok as (
              select doc_id,
                     list_filter(string_split(trim(text), ' '),
                                 x -> x != '')[1:64] as w
              from documents
            ), feat as (
              select doc_id,
                     unnest(list_concat(w,
                       case when len(w) >= 2
                         then [w[i] || '_' || w[i+1] for i in range(1, len(w))]
                         else [] end)) as g
              from tok
            ), bkt as (
              select doc_id,
                     cast(('0x' || substr(md5(g), 1, 15)) as bigint) % 4096 as b
              from feat
            ), dm as (
              select doc_id, b, count(*) as cd from bkt group by doc_id, b
            ), seed as (
              select doc_id, source as cls from documents where doc_id % 10 < 3
            ), counts as (
              select s.cls, k.b, count(*) as cnt
              from bkt k join seed s using (doc_id) group by s.cls, k.b
            ), totals as (
              select cls, sum(cnt) as n_c from counts group by cls
            ), docsc as (
              select cls, count(*) as docs_c from seed group by cls
            ), grid as (
              select t.cls, gb.b, t.n_c, d.docs_c,
                     (select count(*) from seed) as nd,
                     coalesce(c.cnt, 0) as cnt
              from totals t
              join docsc d using (cls)
              cross join (select unnest(range(0, 4096)) as b) gb
              left join counts c on c.cls = t.cls and c.b = gb.b
            ), lng as (
              select cls, b,
                     {fxln_select_sql("(cnt + 1)", "p_")},
                     {fxln_select_sql("(n_c + 4096)", "q_")},
                     {fxln_select_sql("docs_c", "r_")},
                     {fxln_select_sql("nd", "s_")}
              from grid
            ), model as (
              select cls, b, p_ln - q_ln as lq, r_ln - s_ln as prior_q from lng
            ), perclass as (
              -- r9 root-cause fix: sum(bigint) is HUGEINT in DuckDB and
              -- a HUGEINT output column crosses the driver's fetch wire
              -- as decimal/float64 — cast the score to bigint so
              -- score_q ships as an exact integer (|score| < 2^41 by
              -- the cd*lq bound, far inside bigint).
              select dm.doc_id, m.cls,
                     any_value(m.prior_q)
                       + cast(sum(dm.cd * m.lq) as bigint) as score
              from dm join model m using (b)
              group by dm.doc_id, m.cls
            ), ranked as (
              select *, row_number() over (
                partition by doc_id order by score desc, cls asc) as rn
              from perclass
            )
"""


_QUALITY_NTOK_BASE_SQL = """
  select doc_id, source,
         cast({qq} as bigint) as quality_q,
         cast(len(list_filter(t, w -> w != '')) as bigint) as ntok
  from (select doc_id, source,
               string_split_regex(trim(coalesce(text, '')), '\\s+') as t
        from documents)
"""


# PII regexes shared by the Spark operators and the DuckDB oracles
# (Java-regex ∩ RE2 subset; see functions/patterns.py)
_P_EMAIL = _pat.EMAIL_ADDRESS
_P_PHONE = _pat.US_PHONE_STRICT
_P_IP = _pat.IP_ADDRESS
_P_SSN = _pat.SSN
_P_CC = _pat.CREDIT_CARD_CANDIDATE

# deterministic synthetic-PII augmentation (see _pii_augmented)
_PII_AUG_CTE = """
            aug as (
              select doc_id,
                text || ' contact user' || cast(doc_id as varchar) || '@example.com'
                     || ' tel (555) 123-' || lpad(cast(doc_id % 10000 as varchar), 4, '0')
                     || case when doc_id % 3 = 0 then ' card 4111-1111-1111-1111'
                             when doc_id % 3 = 1 then ' card 4111111111111112'
                             else '' end
                     || case when doc_id % 5 = 0 then ' ssn 123-45-6789 ip 10.0.0.1'
                             else '' end
                  as text
              from documents
            )
"""

_PARTSUPP_CTE = """
            partsupp as (
              select l_partkey as ps_partkey, l_suppkey as ps_suppkey,
                     count(*) as ps_availqty,
                     round(min(cast(l_extendedprice / l_quantity
                                    as decimal(18,6))), 2) as ps_supplycost
              from lineitem group by 1, 2
            )
"""


# md5-based hashing makes minhash/simhash portable:
#   Spark  conv(substr(md5(t),1,15),16,10)::bigint
#   DuckDB cast('0x'||substr(md5(t),1,15) as bigint)
_MINHASH_SIG_CTE = """
with toks as (
  select doc_id, string_split(trim(text), ' ') as toks
  from documents
), shingled as (
  select doc_id,
    list_distinct([toks[i] || '_' || toks[i+1] || '_' || toks[i+2]
                   for i in range(1, len(toks) - 1)]) as shingles
  from toks
), sigs as (
  select doc_id,
    [list_min(list_transform(shingles,
       t -> ((1000003 + 2 * h) * (cast(('0x' || substr(md5(t),1,15)) as bigint) % 2147483647)
             + 17 + 31 * h) % 2147483647))
     for h in range(0, 16)] as sig
  from shingled
)
"""

_LSH_PAIRS_CTE = _MINHASH_SIG_CTE + """
, bands as (
  select doc_id, sig, b, sig[2*b+1] || ':' || sig[2*b+2] as band_key
  from sigs, (select unnest(range(0, 8)) as b)
), pairs as (
  select distinct l.doc_id as doc_a, r.doc_id as doc_b, l.sig as sig_a, r.sig as sig_b
  from bands l join bands r
    on l.b = r.b and l.band_key = r.band_key and l.doc_id < r.doc_id
)
"""


# verified near-dup cluster labels: LSH candidates -> trigram-Jaccard
# >= 0.5 verify -> recursive transitive closure -> min-reachable label.
# ONE definition shared by the q_drop_* oracles so the verify
# threshold / shingle size / CC formulation can't silently diverge.
_VERIFIED_LABELS_CTE = _LSH_PAIRS_CTE.replace("with ", "with recursive ", 1) + """
, sh as (
  select doc_id,
         list_distinct([t.toks[i] || '_' || t.toks[i+1] || '_' || t.toks[i+2]
                        for i in range(1, len(t.toks) - 1)]) as sh
  from (select doc_id, string_split(trim(text), ' ') as toks
        from documents) t
), vpairs as (
  select doc_a, doc_b
  from pairs
  join sh a on a.doc_id = doc_a
  join sh b on b.doc_id = doc_b
  where round(len(list_intersect(a.sh, b.sh)) * 1.0 /
              len(list_distinct(list_concat(a.sh, b.sh))), 6) >= 0.5
), edges as (
  select doc_a as a, doc_b as b from vpairs
  union
  select doc_b as a, doc_a as b from vpairs
), reach as (
  select a, b from edges
  union
  select r.a, e.b from reach r join edges e on r.b = e.a
    where e.b <> r.a
), labels as (
  select a as doc, least(a, min(b)) as lbl from reach group by a
)
"""


# ANN oracle chains, hoisted so q_ann_recall can compose them as CTEs
_ORACLE_EMBED_TOPK = """
            with q as (
              select vec_id as query_id, embedding::double[] as qv
              from embeddings where vec_id < 10
            ), c as (
              select vec_id as neighbor_id, embedding::double[] as cv
              from embeddings
            ), scored as (
              select query_id, neighbor_id,
                     round(
                       list_aggregate(list_transform(range(1, 65),
                         i -> qv[i] * cv[i]), 'sum')
                       / (sqrt(list_aggregate(list_transform(qv, x -> x * x), 'sum'))
                          * sqrt(list_aggregate(list_transform(cv, x -> x * x), 'sum'))),
                       6) as cosine_sim
              from c cross join q
              where neighbor_id <> query_id
            )
            select query_id, neighbor_id, cosine_sim, cast(rank as bigint) as rank from (
              select *, row_number() over (partition by query_id
                                           order by cosine_sim desc, neighbor_id asc) as rank
              from scored
            ) where rank <= 5
        """

_ORACLE_IVF_TOPK = """
            with base as (
              select vec_id, list_transform(embedding, x -> cast(x as double)) as e
              from embeddings
            ), normed as (
              select vec_id, e,
                sqrt(list_aggregate(list_transform(e, x -> x * x), 'sum')) as nrm
              from base
            ), seeds as (
              select vec_id as list_id, e as ce, nrm as cn
              from normed order by vec_id limit 16
            ), assign as (
              select vec_id, e, nrm, list_id from (
                select n.vec_id, n.e, n.nrm, s.list_id,
                  row_number() over (partition by n.vec_id order by
                    list_aggregate(list_transform(range(1, 65), i -> n.e[i] * s.ce[i]), 'sum')
                      / (n.nrm * s.cn) desc, s.list_id desc) as rn
                from normed n cross join seeds s
              ) where rn = 1
            ), probes as (
              select vec_id as query_id, e as qe, nrm as qn, list_id from (
                select n.vec_id, n.e, n.nrm, s.list_id,
                  row_number() over (partition by n.vec_id order by
                    list_aggregate(list_transform(range(1, 65), i -> n.e[i] * s.ce[i]), 'sum')
                      / (n.nrm * s.cn) desc, s.list_id desc) as rn
                from normed n cross join seeds s
                where n.vec_id < 10
              ) where rn <= 4
            ), scored as (
              select p.query_id, a.vec_id as neighbor_id,
                round(list_aggregate(list_transform(range(1, 65), i -> p.qe[i] * a.e[i]), 'sum')
                      / (p.qn * a.nrm), 6) as cosine_sim
              from probes p join assign a on p.list_id = a.list_id
              where a.vec_id <> p.query_id
            )
            select query_id, neighbor_id, cosine_sim, cast(rank as bigint) as rank from (
              select *, row_number() over (partition by query_id
                order by cosine_sim desc, neighbor_id asc) as rank
              from scored
            ) where rank <= 5
        """
