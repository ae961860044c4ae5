"""Evaluation metrics (SURVEY §2.9): reference unstructured/metrics/*
as Spark jobs, oracle-checked against DuckDB's levenshtein, plus the
element-type, table-structure and object-detection scores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from entry_queries.common import _t, query


@query(oracle="""
            with src_t as (
              select doc_id,
                case when length(l) < 30 and not regexp_matches(l, '[0-9]')
                     then 'Title'
                     when regexp_matches(l, '^[0-9]') then 'ListItem'
                     else 'NarrativeText' end as type
              from (select doc_id, unnest(string_split(text, '. ')) as l
                    from documents)
              where trim(l) <> ''
            ), out_t as (
              select doc_id,
                case when length(l) < 30 and not regexp_matches(l, '[0-9]')
                     then 'Title'
                     when regexp_matches(l, '^[0-9]') then 'ListItem'
                     else 'NarrativeText' end as type
              from (select doc_id,
                      unnest(string_split(
                        substr(text, 1, cast(floor(length(text) * 0.6) as int)),
                        '. ')) as l
                    from documents)
              where trim(l) <> ''
            ), sf as (
              select doc_id, type, count(*) as n_src from src_t group by 1, 2
            ), of as (
              select doc_id, type, count(*) as n_out from out_t group by 1, 2
            ), j as (
              select coalesce(sf.doc_id, of.doc_id) as doc_id,
                     coalesce(n_src, 0) as n_src, coalesce(n_out, 0) as n_out
              from sf full join of
                on sf.doc_id = of.doc_id and sf.type = of.type
            )
            select doc_id,
                   round(cast(sum(least(n_out, n_src)) as double)
                         / sum(n_src), 6) as percent_match
            from j group by doc_id
        """)
def q_element_type_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-type histogram overlap (reference element_type.py:18-96)
    between elements derived from full vs truncated text — exercises
    element_type_frequency + element_type_percent_match."""
    from unstructured_spark.operators import metrics

    docs = _t(spark, sf_dir, "documents")

    def elements(text_col):
        lines = F.split(text_col, "\\. ")
        df = docs.select("doc_id", F.explode(lines).alias("line")).filter(
            F.trim("line") != ""
        )
        return df.select(
            "doc_id",
            F.when(
                (F.length("line") < 30) & (~F.col("line").rlike("[0-9]")),
                "Title",
            )
            .when(F.col("line").rlike("^[0-9]"), "ListItem")
            .otherwise("NarrativeText")
            .alias("type"),
            F.lit(None).cast("int").alias("category_depth"),
        )

    src = elements(F.col("text"))
    out = elements(
        F.substring(
            "text", 1, F.floor(F.length("text") * 0.6).cast("int")
        )
    )
    return metrics.element_type_percent_match(out, src).select(
        "doc_id", F.round("percent_match", 6).alias("percent_match")
    )


def _synthetic_boxes(spark: SparkSession, sf_dir: str):
    """Deterministic per-doc detection boxes derived from documents
    columns (one GT + one prediction per doc, same class, pred shifted
    right by doc_id %% 13 → IoU = (10-s)/(10+s))."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit(1).alias("page_number"),
        F.concat(F.lit("c"), (F.col("doc_id") % 3).cast("string")).alias("cls"),
        (F.col("n_chars") % 50).cast("double").alias("x1"),
        (F.col("doc_id") % 40).cast("double").alias("y1"),
        (F.col("doc_id") % 13).cast("double").alias("shift"),
        F.col("doc_id").cast("double").alias("score"),
    )
    gt = base.select(
        "doc_id", "page_number", "cls", "x1", "y1",
        (F.col("x1") + 10).alias("x2"), (F.col("y1") + 10).alias("y2"),
    )
    pred = base.select(
        "doc_id", "page_number", "cls", "score",
        (F.col("x1") + F.col("shift")).alias("x1"), "y1",
        (F.col("x1") + F.col("shift") + 10).alias("x2"),
        (F.col("y1") + 10).alias("y2"),
    )
    return pred, gt


@query(oracle="""
            with boxes as (
              select 'c' || cast(doc_id % 3 as varchar) as cls,
                     cast(doc_id % 13 as double) as s,
                     cast(doc_id as double) as score
              from documents
            ),
            m as (
              select cls, score, t.iou_threshold,
                     case when s < 10
                           and (10 - s) / (10 + s) > t.iou_threshold
                          then 1 else 0 end as tp
              from boxes,
                   (select unnest([0.5, 0.75]::double[]) as iou_threshold) t
            ),
            npos as (select cls, count(*) as npos from boxes group by cls),
            ranked as (
              select m.cls, m.iou_threshold, m.score, m.tp, npos.npos,
                row_number() over w as rnk,
                sum(m.tp) over (partition by m.cls, m.iou_threshold
                                order by m.score desc, m.tp desc
                                rows between unbounded preceding
                                         and current row) as cum_tp
              from m join npos on m.cls = npos.cls
              window w as (partition by m.cls, m.iou_threshold
                           order by m.score desc, m.tp desc)
            ),
            curve as (
              select cls, iou_threshold, score, tp,
                cast(cum_tp as double) / rnk as precision,
                cast(cum_tp as double) / npos as recall
              from ranked
            ),
            interp as (
              select cls, iou_threshold, recall,
                max(precision) over (
                  partition by cls, iou_threshold
                  order by score desc, tp desc
                  rows between current row and unbounded following
                ) as p_interp,
                recall - coalesce(lag(recall) over (
                  partition by cls, iou_threshold
                  order by score desc, tp desc), 0) as d_recall
              from curve
            )
            select cls, round(iou_threshold, 2) as iou_threshold,
                   round(round(sum(d_recall * p_interp), 6), 4) as ap
            from interp group by cls, iou_threshold
        """)
def q_od_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Object-detection AP per (class, IoU threshold): per-page greedy
    matching in a cogrouped pandas stage, then the full PR-curve /
    interpolated-precision AP natively with window functions. The
    oracle recomputes the same curve in SQL (the synthetic one-box-per-
    page setup makes the greedy matcher's output closed-form)."""
    from unstructured_spark.operators.od_map import (
        average_precision,
        match_detections,
    )

    pred, gt = _synthetic_boxes(spark, sf_dir)
    ap = average_precision(match_detections(pred, gt), gt)
    return ap.select(
        "cls",
        F.round("iou_threshold", 2).alias("iou_threshold"),
        F.round("ap", 4).alias("ap"),
    )


# q_table_eval: the fixture's
# synthetic-distinct cell contents make every difflib score
# closed-form, derived by hand from the metric definitions —
# unshifted docs are all-1.0; a doc with every row index
# shifted by one keeps perfect table/col scores but fails all
# row checks: row_idx 0.0, row_cont 0.0 (disjoint row lanes),
# so composite = (1 + 0 + (1+0)/2)/3 = 0.5. The oracle states
# those values from first principles; the engine must reproduce
# them through cogroup + bucketing + difflib + rounding.
@query(oracle="""
            select cast(doc_id as varchar) as doc_id,
                   cast(1.0 as double) as table_level_acc,
                   cast(1.0 as double) as table_detection_f1,
                   cast(case when doc_id % 5 = 0 then 0.0 else 1.0 end
                        as double) as element_row_level_index_acc,
                   cast(1.0 as double) as element_col_level_index_acc,
                   cast(case when doc_id % 5 = 0 then 0.5 else 1.0 end
                        as double) as composite_structure_acc
            from documents
        """)
def q_table_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEDS-like table-structure evaluation per doc: a 4-column cell
    grid per document as ground truth; prediction row-shifted for every
    5th doc. Cell contents are synthetic-distinct (``doc_id_pos``) ON
    PURPOSE: with no cross-cell token collisions, every difflib score
    in the pipeline is closed-form — unshifted docs score 1.0
    everywhere; shifted docs score exactly (row_idx 0.0, col_idx 1.0,
    row_cont 0.0, col_cont 1.0, composite 0.5) — so the full output
    hash-checks against a first-principles SQL oracle (upgraded from
    rows-only in r8; arbitrary-text alignment itself stays pinned by
    tests/test_table_eval_odmap.py on real varied fixtures)."""
    from unstructured_spark.operators.table_eval import table_eval

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.posexplode(F.slice(F.split("text", r"\s+"), 1, 12)).alias("pos", "_t"),
    ).select(
        "doc_id", "pos",
        F.concat_ws("_", "doc_id", "pos").alias("content"),
    )
    gt = toks.select(
        "doc_id", F.lit(0).alias("table_id"),
        (F.col("pos") / 4).cast("int").alias("row_index"),
        (F.col("pos") % 4).alias("col_index"), "content",
    )
    shift = F.when(F.col("doc_id").cast("long") % 5 == 0, 1).otherwise(0)
    pred = toks.select(
        "doc_id", F.lit(0).alias("table_id"),
        ((F.col("pos") / 4).cast("int") + shift).alias("row_index"),
        (F.col("pos") % 4).alias("col_index"), "content",
    )
    return table_eval(pred, gt).select(
        "doc_id", "table_level_acc", "table_detection_f1",
        "element_row_level_index_acc", "element_col_level_index_acc",
        "composite_structure_acc",
    )


@query(oracle="""
            with prep as (
              select doc_id,
                trim(regexp_replace(substr(text, 1, 120), '\\s+', ' ', 'g')) as a,
                trim(regexp_replace(
                  regexp_replace(substr(text, 1, 120), '[aeiou]', '', 'g'),
                  '\\s+', ' ', 'g')) as b
              from documents
            ), scored as (
              select doc_id,
                'type' || cast(doc_id % 4 as varchar) as doctype,
                round(case when greatest(length(a), length(b)) = 0 then 1.0
                  else greatest(0.0,
                    1.0 - cast(levenshtein(a, b) as double)
                          / greatest(length(a), length(b)))
                  end, 6) as accuracy
              from prep
            )
            select doctype,
                   floor(avg(accuracy) * 1000 + 0.5) / 1000 as accuracy_mean,
                   floor(stddev_samp(accuracy) * 1000 + 0.5) / 1000
                     as accuracy_stdev,
                   floor(stddev_pop(accuracy) * 1000 + 0.5) / 1000
                     as accuracy_pstdev,
                   cast(count(accuracy) as bigint) as accuracy_count
            from scored group by doctype
        """)
def q_metrics_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped evaluation rollup (reference get_mean_grouping,
    evaluate.py:510-597): per-doctype mean/stdev/pstdev/count of the
    edit-distance accuracy — the reference's pandas groupby loop as a
    single hash aggregate."""
    from unstructured_spark.operators import metrics

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring("text", 1, 120).alias("source_text"),
        F.regexp_replace(F.substring("text", 1, 120), "[aeiou]", "").alias(
            "output_text"
        ),
    )
    scored = metrics.score_edit_distance(docs).withColumn(
        "doctype", F.concat(F.lit("type"), (F.col("doc_id") % 4).cast("string"))
    )
    return metrics.mean_grouping(scored, "doctype", ["accuracy"]).withColumn(
        "accuracy_count", F.col("accuracy_count").cast("bigint")
    )


@query(oracle="""
            with prep as (
              select doc_id,
                trim(regexp_replace(substr(text, 1, 120), '\\s+', ' ', 'g')) as a,
                trim(regexp_replace(
                  regexp_replace(substr(text, 1, 120), '[aeiou]', '', 'g'),
                  '\\s+', ' ', 'g')) as b
              from documents
            )
            select doc_id,
              round(case when greatest(length(a), length(b)) = 0 then 1.0
                else greatest(0.0,
                  1.0 - cast(levenshtein(a, b) as double)
                        / greatest(length(a), length(b)))
                end, 6) as accuracy
            from prep
        """)
def q_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc edit-distance accuracy between a doc and a degraded copy
    (native levenshtein; reference text_extraction.py:59-224)."""
    from unstructured_spark.operators import metrics

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring("text", 1, 120).alias("source_text"),
        F.regexp_replace(F.substring("text", 1, 120), "[aeiou]", "").alias(
            "output_text"
        ),
    )
    scored = metrics.score_edit_distance(docs)
    return scored.select("doc_id", F.round("accuracy", 6).alias("accuracy"))


@query(oracle="""
            with prep as (
              select doc_id,
                trim(regexp_replace(substr(text, 1, 120), '\\s+', ' ', 'g')) as a,
                trim(regexp_replace(
                  regexp_replace(substr(text, 1, 120), '[aeiou]', '', 'g'),
                  '\\s+', ' ', 'g')) as b
              from documents
            ), scored as (
              select round(case when greatest(length(a), length(b)) = 0 then 1.0
                else greatest(0.0,
                  1.0 - cast(levenshtein(a, b) as double)
                        / greatest(length(a), length(b)))
                end, 6) as accuracy
              from prep
            )
            select round(avg(accuracy), 6) as mean,
                   round(stddev_samp(accuracy), 6) as stdev,
                   count(accuracy) as n
            from scored
        """)
def q_eval_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate mean/stdev/count over per-doc accuracy scores
    (reference evaluate.py batch aggregation)."""
    from unstructured_spark.operators import metrics

    return metrics.aggregate_scores(q_edit_distance(spark, sf_dir), "accuracy")


@query(oracle="""
            with srcb as (
              select doc_id, tok, count(*) as n_src from (
                select doc_id,
                  unnest(string_split(
                    trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) as tok
                from documents)
              where tok <> '' group by doc_id, tok
            ), outb as (
              select doc_id, tok, count(*) as n_out from (
                select doc_id,
                  unnest(string_split(
                    trim(regexp_replace(
                      substr(text, 1, cast(floor(length(text) * 0.6) as int)),
                      '\\s+', ' ', 'g')), ' ')) as tok
                from documents)
              where tok <> '' group by doc_id, tok
            )
            select s.doc_id,
              round(cast(sum(greatest(0, n_src - coalesce(n_out, 0))) as double)
                    / sum(n_src), 6) as percent_missing
            from srcb s left join outb o
              on s.doc_id = o.doc_id and s.tok = o.tok
            group by s.doc_id
        """)
def q_percent_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-bag percent-missing-text between a doc and its truncated
    copy (explode + anti-join; reference calculate_percent_missing_text)."""
    from unstructured_spark.operators import metrics

    docs = _t(spark, sf_dir, "documents")
    src = docs.select("doc_id", "text")
    out = docs.select(
        "doc_id",
        F.substring(
            "text", 1, (F.length("text") * 0.6).cast("int")
        ).alias("text"),
    )
    return metrics.percent_missing_text(out, src)
