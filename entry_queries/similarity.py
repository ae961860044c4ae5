"""Similarity search over embeddings: exact and approximate top-k,
clustering, quantization, hybrid retrieval and perceptual hashes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from entry_queries.common import _ORACLE_EMBED_TOPK, _ORACLE_IVF_TOPK, _t, query
from unstructured_spark.operators import similarity, text_analysis


@query(oracle=_ORACLE_EMBED_TOPK)
def q_embed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.cosine_topk(emb, queries, k=5).withColumn(
        "rank", F.col("rank").cast("bigint")
    )


@query(oracle="""
            with vals as (
              select label,
                     unnest([{'pos': i - 1, 'val': cast(e[i] as double)}
                             for i in range(1, len(e) + 1)],
                            recursive := true)
              from (select label, embedding as e from embeddings)
            )
            select label, cast(pos as bigint) as pos,
                   round(avg(val), 6) as centroid_val
            from vals
            group by label, pos
        """)
def q_embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "label", F.posexplode("embedding").alias("pos", "val")
        )
        .groupBy("label", "pos")
        .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("centroid_val"))
        .select("label", F.col("pos").cast("bigint").alias("pos"), "centroid_val")
    )


@query(oracle="""
            with base as (
              select vec_id, list_transform(embedding, x -> cast(x as double)) as e
              from embeddings
            ), normed as (
              select vec_id, e,
                sqrt(list_aggregate(list_transform(e, x -> x * x), 'sum')) as nrm
              from base
            ), planes as (
              select p,
                [ (cast(('0x' || substr(md5('plane' || p || ':' || i), 1, 8)) as bigint)
                    / 4294967295.0) * 2.0 - 1.0
                  for i in range(0, 64) ] as hp
              from range(0, 6) t(p)
            ), bucketed as (
              select n.vec_id, n.e, n.nrm,
                cast(sum(case when list_aggregate(
                      list_transform(range(1, 65), i -> n.e[i] * pl.hp[i]), 'sum') > 0
                    then 1 << pl.p else 0 end) as bigint) as bucket
              from normed n cross join planes pl
              group by n.vec_id, n.e, n.nrm
            ), scored as (
              select a.vec_id as id_a, b.vec_id as id_b,
                round(list_aggregate(
                    list_transform(range(1, 65), i -> a.e[i] * b.e[i]), 'sum')
                  / (a.nrm * b.nrm), 6) as cosine_sim
              from bucketed a join bucketed b
                on a.bucket = b.bucket and a.vec_id < b.vec_id
            )
            select id_a, id_b, cosine_sim from scored
            where cosine_sim >= 0.3
        """)
def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via SRP-bucketed
    blocking — the production default: candidate pairs come from a join
    keyed on the 6-bit sign-random-projection bucket, never a crossjoin,
    so join fan-out is bounded by bucket occupancy and the plan scales
    with corpus size. The md5-deterministic hyperplanes
    (similarity._hyperplane) let the oracle replay the identical bucket
    assignment in SQL; the brute-force all-pairs form survives only as
    the in-repo baseline (similarity.cosine_topk), not as a registered
    query a user would copy at scale."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    # the synthetic embeddings are near-random (max same-bucket cosine
    # ~0.43 at sf0.01), so the registered threshold is 0.3 to keep the
    # hash check non-vacuous; production near-dup thresholds (~0.95+)
    # are just the parameter.
    return similarity.embedding_near_duplicates(
        emb, threshold=0.3, dim=64, planes=6
    )


@query(oracle="""
            with base as (
              select vec_id, list_transform(embedding, x -> cast(x as double)) as e
              from embeddings
            ), normed as (
              select vec_id, e,
                sqrt(list_aggregate(list_transform(e, x -> x * x), 'sum')) as nrm
              from base
            ), planes as (
              select p,
                [ (cast(('0x' || substr(md5('plane' || p || ':' || i), 1, 8)) as bigint)
                    / 4294967295.0) * 2.0 - 1.0
                  for i in range(0, 64) ] as hp
              from range(0, 6) t(p)
            ), bucketed as (
              select n.vec_id, n.e, n.nrm,
                cast(sum(case when list_aggregate(
                      list_transform(range(1, 65), i -> n.e[i] * pl.hp[i]), 'sum') > 0
                    then 1 << pl.p else 0 end) as bigint) as bucket
              from normed n cross join planes pl
              group by n.vec_id, n.e, n.nrm
            ), scored as (
              select q.vec_id as query_id, c.vec_id as neighbor_id,
                round(list_aggregate(
                    list_transform(range(1, 65), i -> q.e[i] * c.e[i]), 'sum')
                  / (q.nrm * c.nrm), 6) as cosine_sim
              from bucketed q join bucketed c
                on q.bucket = c.bucket and c.vec_id <> q.vec_id
              where q.vec_id < 10
            )
            select query_id, neighbor_id, cosine_sim, cast(rank as bigint) as rank from (
              select *, row_number() over (partition by query_id
                order by cosine_sim desc, neighbor_id asc) as rank
              from scored
            ) where rank <= 5
        """)
def q_srp_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via sign-random-projection buckets. The hyperplanes are
    md5-deterministic (similarity._hyperplane), so the oracle replays
    the identical bucket assignment in SQL — bucketed ANN checked on
    rows+schema+hash like the IVF path."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.srp_topk(emb, queries, k=5, dim=64, planes=6).withColumn(
        "rank", F.col("rank").cast("bigint")
    )


@query(oracle=_ORACLE_IVF_TOPK)
def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: deterministic seed-centroid coarse quantizer, probe the
    nprobe nearest lists per query, brute-force within probed lists.
    The seed-based quantizer is engine-portable, so the oracle replays
    the identical index in SQL (assignment → probes → candidate join)."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.ivf_topk(
        emb, queries, k=5, nlist=16, nprobe=4
    ).withColumn("rank", F.col("rank").cast("bigint"))


@query(oracle="""
            with asg as (
              select vec_id, cast(vec_id % 8 as bigint) as cluster_id
              from embeddings
            ), r as (
              select vec_id, cluster_id,
                     cast(row_number() over (partition by cluster_id
                          order by md5(cast(vec_id as varchar) || ':bal'),
                                   vec_id) as bigint) as bal_rank
              from asg
            )
            select vec_id, cluster_id, bal_rank
            from r where bal_rank <= 20
        """)
def q_cluster_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-balanced selection (new in r9): cap each cluster at 20
    vectors chosen by a deterministic md5 draw — the curation step
    that stops a dominant topic from dominating the sample. Ranks via
    a per-cluster hash-prefix prefix sum (16 sub-buckets), so a huge
    cluster never lands in one window partition.

    Benches the balance PRIMITIVE on a deterministic assignment
    (vec_id % 8) — the k-means chain is benched by q_kmeans_clusters,
    and the kmeans→balance composition is pinned by the
    TestClusterBalancedSample unit tests (bench-hygiene: one operator
    per bench row; composites read as outliers)."""
    from unstructured_spark.operators.clustering import (
        cluster_balanced_sample,
    )

    emb = _t(spark, sf_dir, "embeddings")
    asg = emb.select(
        "vec_id", F.expr("cast(vec_id % 8 as bigint)").alias("cluster_id")
    )
    return cluster_balanced_sample(asg, 20, seed="bal")


@query(oracle=f"""
            with exact as (select * from ({_ORACLE_EMBED_TOPK})),
            approx as (select * from ({_ORACLE_IVF_TOPK})),
            hits as (
              select e.query_id, count(*) as c
              from exact e
              join approx a
                on e.query_id = a.query_id
               and e.neighbor_id = a.neighbor_id
              group by e.query_id
            )
            select q.query_id,
                   cast(coalesce(c, 0) as bigint) as hits,
                   cast((1000000 * coalesce(c, 0)) // 5 as bigint)
                     as recall_ppm
            from (select distinct query_id from exact) q
            left join hits on q.query_id = hits.query_id
        """)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index-quality gate (new in r9): recall@5 of the IVF index
    (nlist=16, nprobe=4) against exact brute-force cosine, per query —
    the QA step before trusting an index configuration at scale.
    Integer ppm recall; both searches are the already-oracled
    q_embed_topk / q_ivf_ann_topk shapes."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    qs = emb.filter(F.col("vec_id") < 10)
    exact = similarity.cosine_topk(emb, qs, k=5)
    approx = similarity.ivf_topk(emb, qs, k=5, nlist=16, nprobe=4)
    return similarity.ann_recall(exact, approx, k=5)


def _kmeans_cte_chain(k: int = 8, iters: int = 2, dim: int = 64) -> str:
    """The kmeans iterative-replay CTE chain (init → assign → update ×
    iters → final assign ``af``), shared by the kmeans and semantic-
    dedup oracles: same quantization, same integer centroid state,
    same fixed-order distance fold."""

    def dist(b: str, c: str) -> str:
        return (
            f"list_aggregate([pow(cast({b}.q[i] * {c}.n - {c}.s[i] as double), 2) "
            f"for i in range(1, {dim + 1})], 'sum')"
        )

    def assign(name: str, cent: str) -> str:
        return f"""{name} as (
              select vec_id, q, cid from (
                select b.vec_id, b.q, c.cid,
                  row_number() over (partition by b.vec_id
                    order by {dist('b', 'c')} asc, c.cid asc) as rn
                from base b cross join {cent} c
              ) where rn = 1
            )"""

    def update(a: str, out: str) -> str:
        return f"""{out}_s as (
              select cid, pos, sum(v) as s from (
                select cid,
                  unnest([{{'pos': i, 'v': q[i]}} for i in range(1, {dim + 1})],
                         recursive := true)
                from {a}
              ) group by cid, pos
            ), {out}_n as (
              select cid, cast(count(*) as bigint) as n from {a} group by cid
            ), {out} as (
              select s.cid, list(cast(s.s as bigint) order by s.pos) as s,
                     any_value(n.n) as n
              from {out}_s s join {out}_n n on s.cid = n.cid
              group by s.cid
            )"""

    parts = [
        f"""with base as (
              select cast(vec_id as bigint) as vec_id,
                [cast(floor(cast(x as double) * 1000000 + 0.5) as bigint)
                 for x in embedding] as q
              from embeddings
            ), cent0 as (
              select vec_id as cid, q as s, cast(1 as bigint) as n
              from base order by vec_id limit {k}
            )"""
    ]
    for i in range(1, iters + 1):
        parts.append(assign(f"a{i}", f"cent{i - 1}"))
        parts.append(update(f"a{i}", f"cent{i}"))
    parts.append(assign("af", f"cent{iters}"))
    return ", ".join(parts)


def _semantic_dedup_oracle(
    k: int = 8, iters: int = 2, dim: int = 64, threshold: float = 0.42
) -> str:
    """SQL replay of clustering.semantic_dedup: the kmeans CTE chain,
    then within-cluster pairwise 6dp-rounded cosine over the ORIGINAL
    double embeddings; any vector with a lower-id >= threshold
    neighbor in its cluster is a duplicate."""
    return (
        _kmeans_cte_chain(k, iters, dim)
        + f"""
            , sized as (
              select vec_id, cid as cluster_id,
                     cast(count(*) over (partition by cid) as bigint)
                       as cluster_size
              from af
            ), vecs as (
              select cast(vec_id as bigint) as vec_id,
                     embedding::double[] as v,
                     sqrt(list_aggregate(list_transform(embedding::double[],
                          x -> x * x), 'sum')) as nrm
              from embeddings
            ), av as (
              select s.vec_id, s.cluster_id, v.v, v.nrm
              from sized s join vecs v using (vec_id)
            ), dups as (
              select distinct b.vec_id
              from av a join av b
                on a.cluster_id = b.cluster_id and a.vec_id < b.vec_id
              where round(
                      list_aggregate(list_transform(range(1, {dim + 1}),
                        i -> a.v[i] * b.v[i]), 'sum') / (a.nrm * b.nrm),
                      6) >= {threshold}
            )
            select s.vec_id, s.cluster_id, s.cluster_size,
                   (d.vec_id is not null) as is_duplicate
            from sized s left join dups d on s.vec_id = d.vec_id
        """
    )


@query(oracle=_semantic_dedup_oracle(
    k=8, iters=2, dim=64, threshold=0.42
))
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: k-means-bucketed within-cluster cosine near-dup
    flagging over the embeddings table (k=8, 2 rounds, threshold 0.42
    — chosen so the synthetic corpus has real positives). The O(n²)
    search never leaves its cluster bucket; the oracle replays the
    full iterative pipeline plus the pairwise sweep in SQL."""
    from unstructured_spark.operators.clustering import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, k=8, iterations=2, threshold=0.42)


def _kmeans_oracle(k: int = 8, iters: int = 2, dim: int = 64) -> str:
    """Static SQL replay of kmeans_clusters: same quantization, same
    integer centroid state, same fixed-order distance fold."""
    return (
        _kmeans_cte_chain(k, iters, dim)
        + """
            select vec_id, cid as cluster_id,
                   cast(count(*) over (partition by cid) as bigint) as cluster_size
            from af
        """
    )


@query(oracle=_kmeans_oracle(k=8, iters=2, dim=64))
def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means over the embeddings table (k=8, 2
    update rounds, deterministic lowest-id init). Integer-quantized
    vectors keep centroid sums exact and order-independent, so the
    oracle replays init → assign → update → assign as a static SQL
    chain — a hash-checked iterative clustering algorithm."""
    from unstructured_spark.operators.clustering import kmeans_clusters

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_clusters(emb, k=8, iterations=2)


@query(oracle="""
            with t as (
              select doc_id, string_split(trim(text), ' ') as w,
                     cast(len(list_filter(string_split(trim(text), ' '),
                                          x -> x != '')) as bigint) as dl
              from documents
            ), tf as (
              select doc_id, dl,
                     cast(len(list_filter(w, x -> x = 'spark')) as double) as tf0,
                     cast(len(list_filter(w, x -> x = 'vector')) as double) as tf1,
                     cast(len(list_filter(w, x -> x = 'customer')) as double) as tf2
              from t
            ), st as (
              select cast(count(*) as bigint) as n, sum(dl) as sum_dl,
                     sum(case when tf0 > 0 then 1 else 0 end) as df0,
                     sum(case when tf1 > 0 then 1 else 0 end) as df1,
                     sum(case when tf2 > 0 then 1 else 0 end) as df2
              from tf
            ), scored as (
              select doc_id,
                0.0
                + ln((cast(st.n - st.df0 as double) + 0.5)
                     / (cast(st.df0 as double) + 0.5) + 1)
                  * (tf0 * 2.2 / (tf0 + 1.2 * (0.25 + 0.75 * cast(dl as double)
                       / (cast(st.sum_dl as double) / cast(st.n as double)))))
                + ln((cast(st.n - st.df1 as double) + 0.5)
                     / (cast(st.df1 as double) + 0.5) + 1)
                  * (tf1 * 2.2 / (tf1 + 1.2 * (0.25 + 0.75 * cast(dl as double)
                       / (cast(st.sum_dl as double) / cast(st.n as double)))))
                + ln((cast(st.n - st.df2 as double) + 0.5)
                     / (cast(st.df2 as double) + 0.5) + 1)
                  * (tf2 * 2.2 / (tf2 + 1.2 * (0.25 + 0.75 * cast(dl as double)
                       / (cast(st.sum_dl as double) / cast(st.n as double)))))
                as raw,
                tf0 + tf1 + tf2 as anytf
              from tf cross join st
            )
            select doc_id, floor(raw * 1000000.0 + 0.5) / 1000000.0 as score
            from scored where anytf > 0
        """)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 corpus search for ['spark','vector','customer']: one exact
    integer-stats aggregate (N, Σdl, per-term df) folded to literals,
    then a map-only scoring pass — two scans, zero shuffles. The
    oracle recomputes the same integer stats in SQL and applies ln to
    identical double arguments."""
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.bm25_scores(docs, ["spark", "vector", "customer"])


@query(oracle="""
            with base as (
              select vec_id,
                     list_transform(embedding, x -> cast(x as double)) as e
              from embeddings
            ), s as (
              select vec_id, e,
                     list_max(list_transform(e, x -> abs(x))) / 127.0 as scale
              from base
            )
            select vec_id,
                   unnest([{'pos': i - 1,
                            'code': case when scale > 0
                                         then cast(floor(e[i] / scale + 0.5) as int)
                                         else 0 end}
                           for i in range(1, len(e) + 1)], recursive := true),
                   scale
            from s
        """)
def q_quantized_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embeddings table
    (4× memory for billion-vector ANN candidate storage) — exploded
    to (vec_id, pos, code, scale) rows for engine-stable comparison."""
    emb = _t(spark, sf_dir, "embeddings")
    q = similarity.quantize_int8(emb)
    return q.select(
        "vec_id", F.posexplode("codes").alias("pos", "code"), "scale"
    )


@query(oracle="""
            with base as (
              select vec_id,
                     list_transform(embedding, x -> cast(x as double)) as e
              from embeddings
            ), planes as (
              select p,
                list_transform(range(0, 64), i ->
                  (cast(('0x' || substr(md5('plane' || cast(p as varchar) || ':'
                                             || cast(i as varchar)), 1, 8))
                        as bigint) / 4294967295.0) * 2 - 1) as h
              from (select unnest(range(0, 8)) as p)
            )
            select b.vec_id, cast(p.p as int) as pos,
                   floor(list_aggregate([b.e[i + 1] * p.h[i + 1]
                                         for i in range(0, 64)], 'sum')
                         * 1000000000.0 + 0.5) / 1000000000.0 as value
            from base b cross join planes p
        """)
def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss reduction 64→8 dims with md5-deterministic
    planes (the pre-IVF/k-means shrink step at corpus scale); map-only,
    replayed in SQL from the same md5 plane family."""
    emb = _t(spark, sf_dir, "embeddings")
    red = similarity.random_projection(emb, 8, in_dim=64)
    return red.select("vec_id", F.posexplode("reduced").alias("pos", "value"))


@query(oracle="""
            with base as (
              select cast(vec_id as bigint) as vec_id,
                [cast(floor(cast(x as double) * 1000000 + 0.5) as bigint)
                 for x in embedding] as q
              from embeddings
            ), seeds as (
              select row_number() over (order by vec_id) - 1 as o, q
              from (select * from base order by vec_id limit 16)
            ), qv as (
              select q from base order by vec_id limit 1
            ), qid as (
              select min(vec_id) as qid from base
            ), subs as (
              select unnest(range(0, 8)) as s
            ), dists as (
              select b.vec_id, subs.s, se.o,
                list_aggregate(
                  [(b.q[subs.s * 8 + i] - se.q[subs.s * 8 + i])
                   * (b.q[subs.s * 8 + i] - se.q[subs.s * 8 + i])
                   for i in range(1, 9)], 'sum') as dist
              from base b cross join subs cross join seeds se
            ), assign as (
              select vec_id, s, o from (
                select *, row_number() over (
                  partition by vec_id, s order by dist asc, o asc) as rn
                from dists
              ) where rn = 1
            ), qd as (
              select subs.s, se.o,
                list_aggregate(
                  [(qv.q[subs.s * 8 + i] - se.q[subs.s * 8 + i])
                   * (qv.q[subs.s * 8 + i] - se.q[subs.s * 8 + i])
                   for i in range(1, 9)], 'sum') as qdist
              from qv cross join subs cross join seeds se
            ), score as (
              select a.vec_id, cast(sum(qd.qdist) as bigint) as pq_dist
              from assign a join qd on a.s = qd.s and a.o = qd.o
              where a.vec_id <> (select qid from qid)
              group by a.vec_id
            )
            select vec_id, pq_dist, cast(rank as bigint) as rank from (
              select *, row_number() over (order by pq_dist asc, vec_id asc)
                as rank
              from score
            ) where rank <= 10
        """)
def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (the IVF-PQ memory format for
    billion-vector ANN): m=8 subspaces × 16 deterministic seed
    centroids, integer-exact codebook and distance tables, query =
    the lowest-id embedding. Map-only code assignment + m table
    lookups per vector; the oracle replays codebook, codes, and ADC
    scores exactly."""
    emb = _t(spark, sf_dir, "embeddings")
    qrow = emb.orderBy("vec_id").select("vec_id", "embedding").first()
    return similarity.pq_topk(
        emb,
        [float(x) for x in qrow["embedding"]],
        m=8,
        ksub=16,
        k=10,
        exclude_id=qrow["vec_id"],
    )


@query(oracle="""
            with base as (
              select cast(vec_id as bigint) as vec_id,
                [cast(floor(cast(x as double) * 1000000 + 0.5) as bigint)
                 for x in embedding] as q
              from embeddings
            ), seeds as (
              select row_number() over (order by vec_id) - 1 as o, q
              from (select * from base order by vec_id limit 16)
            ), coarse as (
              select o, q from seeds where o < 8
            ), qv as (
              select q from base order by vec_id limit 1
            ), qid as (
              select min(vec_id) as qid from base
            ), cassign as (
              select vec_id, o as list_id from (
                select b.vec_id, c.o,
                  row_number() over (partition by b.vec_id order by
                    list_aggregate([(b.q[i] - c.q[i]) * (b.q[i] - c.q[i])
                                    for i in range(1, 65)], 'sum') asc,
                    c.o asc) as rn
                from base b cross join coarse c
              ) where rn = 1
            ), probes as (
              select o as list_id from (
                select c.o,
                  row_number() over (order by
                    list_aggregate([(qv.q[i] - c.q[i]) * (qv.q[i] - c.q[i])
                                    for i in range(1, 65)], 'sum') asc,
                    c.o asc) as rn
                from qv cross join coarse c
              ) where rn <= 2
            ), subs as (
              select unnest(range(0, 8)) as s
            ), dists as (
              select b.vec_id, subs.s, se.o,
                list_aggregate(
                  [(b.q[subs.s * 8 + i] - se.q[subs.s * 8 + i])
                   * (b.q[subs.s * 8 + i] - se.q[subs.s * 8 + i])
                   for i in range(1, 9)], 'sum') as dist
              from base b cross join subs cross join seeds se
            ), assign as (
              select vec_id, s, o from (
                select *, row_number() over (
                  partition by vec_id, s order by dist asc, o asc) as rn
                from dists
              ) where rn = 1
            ), qd as (
              select subs.s, se.o,
                list_aggregate(
                  [(qv.q[subs.s * 8 + i] - se.q[subs.s * 8 + i])
                   * (qv.q[subs.s * 8 + i] - se.q[subs.s * 8 + i])
                   for i in range(1, 9)], 'sum') as qdist
              from qv cross join subs cross join seeds se
            ), score as (
              select a.vec_id, any_value(ca.list_id) as list_id,
                     cast(sum(qd.qdist) as bigint) as pq_dist
              from assign a
              join qd on a.s = qd.s and a.o = qd.o
              join cassign ca on ca.vec_id = a.vec_id
              where ca.list_id in (select list_id from probes)
                and a.vec_id <> (select qid from qid)
              group by a.vec_id
            )
            select vec_id, cast(list_id as int) as list_id, pq_dist,
                   cast(rank as bigint) as rank from (
              select *, row_number() over (order by pq_dist asc, vec_id asc)
                as rank
              from score
            ) where rank <= 10
        """)
def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (the billion-vector layout): integer-exact coarse
    quantizer prunes to nprobe/nlist of the corpus, PQ ADC scores the
    survivors with m table lookups. One corpus pass computes coarse
    list + code; the probe filter is a literal IN-list. The oracle
    replays coarse assignment, probes, codes, and scores."""
    emb = _t(spark, sf_dir, "embeddings")
    qrow = emb.orderBy("vec_id").select("vec_id", "embedding").first()
    return similarity.ivfpq_topk(
        emb,
        [float(x) for x in qrow["embedding"]],
        nlist=8,
        nprobe=2,
        m=8,
        ksub=16,
        k=10,
        exclude_id=qrow["vec_id"],
    )


@query(oracle="""
            with t as (
              select doc_id, string_split(trim(text), ' ') as w,
                     cast(len(list_filter(string_split(trim(text), ' '),
                                          x -> x != '')) as bigint) as dl
              from documents
            ), tf as (
              select doc_id, dl,
                     cast(len(list_filter(w, x -> x = 'spark')) as double) as tf0,
                     cast(len(list_filter(w, x -> x = 'vector')) as double) as tf1,
                     cast(len(list_filter(w, x -> x = 'customer')) as double) as tf2
              from t
            ), st as (
              select cast(count(*) as bigint) as n, sum(dl) as sum_dl,
                     sum(case when tf0 > 0 then 1 else 0 end) as df0,
                     sum(case when tf1 > 0 then 1 else 0 end) as df1,
                     sum(case when tf2 > 0 then 1 else 0 end) as df2
              from tf
            ), scored as (
              select doc_id,
                0.0
                + ln((cast(st.n - st.df0 as double) + 0.5)
                     / (cast(st.df0 as double) + 0.5) + 1)
                  * (tf0 * 2.2 / (tf0 + 1.2 * (0.25 + 0.75 * cast(dl as double)
                       / (cast(st.sum_dl as double) / cast(st.n as double)))))
                + ln((cast(st.n - st.df1 as double) + 0.5)
                     / (cast(st.df1 as double) + 0.5) + 1)
                  * (tf1 * 2.2 / (tf1 + 1.2 * (0.25 + 0.75 * cast(dl as double)
                       / (cast(st.sum_dl as double) / cast(st.n as double)))))
                + ln((cast(st.n - st.df2 as double) + 0.5)
                     / (cast(st.df2 as double) + 0.5) + 1)
                  * (tf2 * 2.2 / (tf2 + 1.2 * (0.25 + 0.75 * cast(dl as double)
                       / (cast(st.sum_dl as double) / cast(st.n as double)))))
                as raw,
                tf0 + tf1 + tf2 as anytf
              from tf cross join st
            ), lex as (
              select doc_id, rank from (
                select doc_id,
                  cast(row_number() over (
                    order by floor(raw * 1000000.0 + 0.5) / 1000000.0 desc,
                             doc_id asc) as bigint) as rank
                from scored where anytf > 0
              ) where rank <= 20
            ), demb as (
              select e.vec_id,
                     list_transform(e.embedding, x -> cast(x as double)) as v
              from embeddings e join documents d on e.vec_id = d.doc_id
            ), qv as (
              select v as q from demb where vec_id = 0
            ), sims as (
              select c.vec_id as doc_id,
                round(list_aggregate(list_transform(range(1, 65),
                    i -> c.v[i] * qv.q[i]), 'sum')
                  / (sqrt(list_aggregate(list_transform(c.v, x -> x * x), 'sum'))
                     * sqrt(list_aggregate(list_transform(qv.q, x -> x * x), 'sum'))),
                  6) as cos
              from demb c cross join qv
              where c.vec_id <> 0
            ), ann as (
              select doc_id, rank from (
                select doc_id,
                  cast(row_number() over (order by cos desc, doc_id asc)
                       as bigint) as rank
                from sims
              ) where rank <= 20
            ), unioned as (
              select doc_id, rank from lex
              union all
              select doc_id, rank from ann
            ), fused as (
              select doc_id, sum(1.0 / (60.0 + cast(rank as double))) as rrf,
                     cast(count(*) as bigint) as n_lists
              from unioned group by doc_id
            )
            select doc_id,
                   floor(rrf * 1000000.0 + 0.5) / 1000000.0 as rrf_score,
                   n_lists,
                   cast(fused_rank as bigint) as fused_rank
            from (
              select *, row_number() over (order by rrf desc, doc_id asc)
                        as fused_rank
              from fused
            ) where fused_rank <= 10
        """)
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid RAG retrieval: BM25 lexical top-20 + brute-cosine vector
    top-20 (query = embedding of vec_id 0, corpus = embeddings of doc
    ids) fused with reciprocal-rank fusion (k=60), top 10. Fusion is a
    union + one aggregate over <=40 rows; the heavy lifting stays in
    the scale-shaped retrievers."""
    from unstructured_spark.operators import retrieval

    docs = _t(spark, sf_dir, "documents")
    emb = (
        _t(spark, sf_dir, "embeddings")
        .withColumn("embedding", F.transform("embedding", lambda x: x.cast("double")))
        .join(docs.select(F.col("doc_id").alias("vec_id")), "vec_id")
    )
    bm25 = text_analysis.bm25_scores(docs, ["spark", "vector", "customer"])
    lex = retrieval.rank_by(bm25, "score", "doc_id", 20)
    ann = (
        similarity.cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=20)
        .select(F.col("neighbor_id").alias("doc_id"), F.col("rank").cast("bigint").alias("rank"))
    )
    return retrieval.reciprocal_rank_fusion([lex, ann], top=10)


def _dhash_pairs_sql() -> str:
    """Brute-force SQL replay of q_image_dhash_pairs: identical grid
    bytes, identical 9x8 nearest-neighbor source cells, identical
    64-bit dhash arithmetic (bit 63 as the int64 min constant), pairs
    by plain crossjoin + bit_count(xor)."""

    def byte(r: int, c: int) -> str:
        b = (
            f"cast(('0x'||substr(md5('img:'||cast((d//4) as varchar)||':'||'{r}'),"
            f" {c * 2 + 1}, 2)) as bigint)"
        )
        b = (
            f"(case when (d%4) in (1,3) and {int(r == 0)} = 1"
            f" then 255 - {b} else {b} end)"
        )
        return (
            f"(case when (d%4) >= 2 and {int(r == 6)} = 1"
            f" then 255 - {b} else {b} end)"
        )

    terms = []
    for r2 in range(8):
        for c2 in range(8):
            idx = r2 * 8 + c2
            val = "(-9223372036854775807 - 1)" if idx == 63 else str(1 << idx)
            terms.append(
                f"case when {byte(r2 * 2, (c2 * 16) // 9)}"
                f" < {byte(r2 * 2, ((c2 + 1) * 16) // 9)} then {val} else 0 end"
            )
    expr = " + ".join(terms)
    return f"""
        with base as (select cast(doc_id as bigint) as d from documents),
        h as (select d as doc_id, ({expr}) as dhash from base)
        select a.doc_id as doc_a, b.doc_id as doc_b,
               cast(bit_count(xor(a.dhash, b.dhash)) as bigint) as hamming
        from h a join h b on a.doc_id < b.doc_id
        where bit_count(xor(a.dhash, b.dhash)) <= 8
    """


@query(oracle=_dhash_pairs_sql())
def q_image_dhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup: 64-bit dHash (grayscale 9x8 downsample,
    adjacent-cell comparisons) + lossless pigeonhole Hamming blocking
    (dedup.hamming_pairs — never all-pairs). The pixel grids here are
    md5-deterministic surrogates (doc groups of 4 sharing a base image
    with per-variant bumps on sampled rows 0 and 6) so the oracle replays grid, resize, hash
    and pairs bit-for-bit in SQL; the REAL byte-decode path is
    multimodal.image_dhash (same hash function, unit-tested on encoded
    pixels)."""
    import pandas as pd
    from pyspark.sql import types as T

    from unstructured_spark.operators.dedup import hamming_pairs

    def _dhash_fn(doc_id):
        import hashlib

        out = []
        for d in doc_id:
            grp, var = int(d) // 4, int(d) % 4
            gray = [[0] * 9 for _ in range(8)]
            for r2 in range(8):
                r = r2 * 2
                hx = hashlib.md5(f"img:{grp}:{r}".encode()).hexdigest()
                for c2 in range(9):
                    c = (c2 * 16) // 9
                    v = int(hx[c * 2 : c * 2 + 2], 16)
                    # variant perturbation: invert whole sampled rows so
                    # each variant flips a handful of comparisons —
                    # within-group distances spread across the bound
                    if var in (1, 3) and r == 0:
                        v = 255 - v
                    if var >= 2 and r == 6:
                        v = 255 - v
                    gray[r2][c2] = v
            val = 0
            for r2 in range(8):
                for c2 in range(8):
                    if gray[r2][c2] < gray[r2][c2 + 1]:
                        val |= 1 << (r2 * 8 + c2)
            out.append(val - (1 << 64) if val >= 1 << 63 else val)
        return pd.Series(out, dtype="int64")

    # annotations set explicitly: pandas is imported locally, so inline
    # hints would be strings the UDF type-inferencer can't resolve
    _dhash_fn.__annotations__ = {"doc_id": pd.Series, "return": pd.Series}
    _dhash = F.pandas_udf(_dhash_fn, T.LongType())

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    # ~16 bytes/doc checkpoint so the blocking self-join's two sides
    # don't EACH re-run the hash UDF (same rationale as simhash_pairs)
    hashed = docs.select(
        "doc_id", _dhash(F.col("doc_id")).alias("dhash")
    ).localCheckpoint(eager=False)
    # max_distance=8: 9 segments of ~7 bits — bucket cardinality 128
    # per segment keeps the per-bucket self-join tiny (13 segments of
    # 4-5 bits measured 7x slower from 312-doc buckets; the bits-per-
    # segment lever from SCALING.md in action)
    return hamming_pairs(
        hashed, hash_col="dhash", doc_id="doc_id", bits=64, max_distance=8
    )


@query(oracle="""
            with toks as (
              select doc_id,
                list_filter(
                  string_split(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' '),
                  t -> t <> '') as ts
              from documents
            ), vecs as (
              select doc_id,
                [ coalesce(list_aggregate(list_transform(
                    list_filter(ts,
                      t -> cast(('0x' || substr(md5(t), 1, 8)) as bigint) % 8 = b),
                    t -> case when cast(('0x' || substr(md5(t), 9, 2)) as int) % 2 = 1
                         then 1.0 else -1.0 end), 'sum'), 0.0)
                  for b in range(0, 8) ] as raw
              from toks
            ), normed as (
              select doc_id, raw,
                sqrt(list_aggregate(list_transform(raw, x -> x * x), 'sum')) as nrm
              from vecs
            )
            select doc_id,
              array_to_string(
                -- the engine ships embeddings as float32 (Arrow wire);
                -- replay that narrowing (cast ... as real) BEFORE the
                -- round-to-4, or a double like 11/sqrt(445) =
                -- 0.52145000094... rounds UP while its float32 image
                -- 0.52144998... rounds DOWN (bit us at sf0.1, doc 2146)
                case when nrm > 0
                     then list_transform(raw, x ->
                       cast(cast(round(cast(cast(x / nrm as real) as double), 4)
                            as decimal(10,4)) as varchar))
                     else list_transform(raw, x ->
                       cast(cast(round(cast(cast(x as real) as double), 4)
                            as decimal(10,4)) as varchar)) end,
                ',') as vec
            from normed
        """)
def q_hash_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hash embedding of document text via the mapInPandas
    embedding operator (per-worker encoder singleton; SURVEY §2.7).
    The md5-based HashingEncoder is engine-portable, so DuckDB
    reproduces the exact vectors — this oracle-checks the embedding
    plumbing end to end."""
    from unstructured_spark.operators import embed

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = embed.embed_elements(docs, lambda: embed.HashingEncoder(dim=8))
    # embeddings are float32 on the wire; round to 4 (inside float32's
    # ~7 significant digits) so both engines stringify identically
    # serialize to a fixed-scale string: the driver's row-hash can't
    # digest list cells, and decimal(10,4) renders identically in both
    # engines (no scientific notation for small magnitudes)
    return out.select(
        "doc_id",
        F.concat_ws(
            ",",
            F.transform(
                "embeddings",
                lambda v: F.round(v.cast("double"), 4)
                .cast("decimal(10,4)")
                .cast("string"),
            ),
        ).alias("vec"),
    )
