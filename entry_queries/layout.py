"""Model-free hi_res layout operators (SURVEY §2.6): box dedup, inner-
element cleanup, embedded-text aggregation, inferred/extracted merge,
form key-value extraction and the element overlap audit.
Synthetic detection/extraction boxes are derived from the documents
table with pure integer modular arithmetic so the DuckDB oracle can
regenerate them bit-identically (doubles holding integers are exact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from entry_queries.common import _t, query


@query(oracle="""
            with toks as (
              select doc_id, string_split(trim(text), ' ') as t from documents
            ), els as (
              select doc_id, 1 as page,
                unnest([
                  {'ix': 0, 'etype': 'Title',
                   'text': array_to_string(t[1:8], ' '),
                   'x1': 0.0, 'y1': 0.0, 'x2': 100.0, 'y2': 100.0},
                  {'ix': 1, 'etype': 'NarrativeText',
                   'text': array_to_string(t[4:11], ' '),
                   'x1': 10.0, 'y1': 10.0, 'x2': 90.0, 'y2': 90.0},
                  {'ix': 2, 'etype': 'Text',
                   'text': array_to_string(t[6:14], ' '),
                   'x1': 95.0, 'y1': 0.0, 'x2': 195.0, 'y2': 100.0},
                  {'ix': 3, 'etype': 'Text',
                   'text': array_to_string(t[9:17], ' '),
                   'x1': 150.0, 'y1': 0.0, 'x2': 260.0, 'y2': 100.0}
                ], recursive := true)
              from toks
            ), pr as (
              select a.doc_id, a.page,
                     a.ix as ixa, b.ix as ixb, a.etype as ta, b.etype as tb,
                     a.text as xa, b.text as xb,
                     (a.x2 - a.x1) * (a.y2 - a.y1) as area_a,
                     (b.x2 - b.x1) * (b.y2 - b.y1) as area_b,
                     greatest(least(a.x2, b.x2) - greatest(a.x1, b.x1), 0)
                       * greatest(least(a.y2, b.y2) - greatest(a.y1, b.y1), 0) as inter,
                     (b.x1 >= a.x1 - 5 and b.y1 >= a.y1 - 5
                      and b.x2 <= a.x2 + 5 and b.y2 <= a.y2 + 5) as a_parent,
                     (a.x1 >= b.x1 - 5 and a.y1 >= b.y1 - 5
                      and a.x2 <= b.x2 + 5 and a.y2 <= b.y2 + 5) as b_parent
              from els a join els b
                on a.doc_id = b.doc_id and a.page = b.page and a.ix < b.ix
                and a.x1 < b.x2 and a.x2 > b.x1 and a.y1 < b.y2 and a.y2 > b.y1
            ), fl as (
              select *,
                case when least(area_a, area_b) = 0 then 0.0
                     else floor(inter / least(area_a, area_b) * 100 * 100 + 0.5) / 100
                end as pct_partial,
                case when area_a + area_b - inter = 0 then 0.0
                     else floor(inter / (area_a + area_b - inter) * 100 * 100 + 0.5) / 100
                end as pct_total,
                a_parent as nested_a,
                (not a_parent) and b_parent as nested_b,
                (not a_parent) and (not b_parent) as partial
              from pr
            ), fl2 as (
              select *,
                partial and pct_partial < 10.0 as small,
                partial and pct_partial >= 10.0 and xa = '' as empty_a,
                partial and pct_partial >= 10.0 and xa <> '' and xb = '' as empty_b,
                partial and pct_partial >= 10.0 and xa <> '' and xb <> ''
                  and (contains(xb, xa) or contains(xa, xb)) as dup
              from fl
            ), shr as (
              select doc_id, ixa, ixb,
                     string_split(trim(xa), ' ') as wa,
                     string_split(trim(xb), ' ') as wb
              from fl2
              where partial and not small and not empty_a and not empty_b and not dup
            ), pa as (
              select doc_id, ixa, ixb,
                unnest([{'pa': i, 'tok': wa[i]} for i in range(1, len(wa) + 1)],
                       recursive := true)
              from shr
            ), pb as (
              select doc_id, ixa, ixb,
                unnest([{'pb': i, 'tok': wb[i]} for i in range(1, len(wb) + 1)],
                       recursive := true)
              from shr
            ), mm as (
              select a.doc_id, a.ixa, a.ixb, a.pa, b.pb
              from pa a join pb b
                on a.doc_id = b.doc_id and a.ixa = b.ixa and a.ixb = b.ixb
                and a.tok = b.tok
            ), runs as (
              select doc_id, ixa, ixb, count(*) as rl from (
                select *, pa - row_number() over (
                  partition by doc_id, ixa, ixb, pa - pb order by pa) as isl
                from mm
              ) group by doc_id, ixa, ixb, pa - pb, isl
            ), lrun as (
              select doc_id, ixa, ixb, max(rl) as lr
              from runs group by doc_id, ixa, ixb
            ), ng as (
              select s.doc_id, s.ixa, s.ixb,
                     least(coalesce(l.lr, 0), least(len(s.wa), len(s.wb)) - 1)
                       as nstar,
                     len(s.wa) as na, len(s.wb) as nb, s.wa, s.wb
              from shr s left join lrun l
                on s.doc_id = l.doc_id and s.ixa = l.ixa and s.ixb = l.ixb
            ), ngp as (
              select doc_id, ixa, ixb, nstar, na, nb,
                len(list_intersect(
                  list_distinct([array_to_string(wa[i+1 : i+nstar], ' ')
                                 for i in range(0, na - nstar + 1)]),
                  list_distinct([array_to_string(wb[i+1 : i+nstar], ' ')
                                 for i in range(0, nb - nstar + 1)])
                )) as common
              from ng where nstar >= 1
            ), ngf as (
              select doc_id, ixa, ixb, nstar,
                floor(common * 1.0 / (least(na, nb) - nstar + 1) * 100 * 100 + 0.5)
                  / 100 as npct
              from ngp where common > 0
            )
            select f.doc_id, f.page,
              case when f.nested_b or f.empty_b
                   then f.tb || '(ix=' || cast(f.ixb as varchar) || ')'
                   else f.ta || '(ix=' || cast(f.ixa as varchar) || ')'
              end as element_a,
              case when f.nested_b or f.empty_b
                   then f.ta || '(ix=' || cast(f.ixa as varchar) || ')'
                   else f.tb || '(ix=' || cast(f.ixb as varchar) || ')'
              end as element_b,
              case when f.nested_a then f.ta || '(ix=' || cast(f.ixa as varchar) || ')'
                   when f.nested_b then f.tb || '(ix=' || cast(f.ixb as varchar) || ')'
              end as parent_element,
              case
                when f.nested_a then 'nested ' || f.tb || ' in ' || f.ta
                when f.nested_b then 'nested ' || f.ta || ' in ' || f.tb
                when f.small then 'Small partial overlap'
                when f.empty_a then 'partial overlap with empty content in ' || f.ta
                when f.empty_b then 'partial overlap with empty content in ' || f.tb
                when f.dup then 'partial overlap with duplicate text'
                when g.npct is not null then
                  'partial overlap sharing ' || cast(g.npct as varchar)
                  || '% of the text from'
                  || case when len(string_split(trim(f.xa), ' '))
                            < len(string_split(trim(f.xb), ' '))
                          then f.ta else f.tb end
                  || '(' || cast(g.nstar as varchar) || '-gram)'
                else 'partial overlap without sharing text'
              end as overlapping_case,
              case when f.nested_a or f.nested_b then 100.0
                   else f.pct_partial end as overlap_pct,
              f.pct_total as overlap_pct_total,
              coalesce(g.npct, 0.0) as largest_ngram_pct,
              floor(greatest(f.area_a, f.area_b) * 100 + 0.5) / 100 as max_area,
              floor(least(f.area_a, f.area_b) * 100 + 0.5) / 100 as min_area,
              floor((f.area_a + f.area_b) * 100 + 0.5) / 100 as total_area
            from fl2 f left join ngf g
              on f.doc_id = g.doc_id and f.ixa = g.ixa and f.ixb = g.ixb
        """)
def q_overlap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element bounding-box QA audit (reference utils.py
    catch_overlapping_and_nested_bboxes): four synthetic elements per
    doc (a nested pair, a 5% sliver pair, and a text-sharing partial
    pair whose texts are token slices of the doc) classified by the
    full reference decision tree — nesting tolerance, small-overlap
    threshold, empty/duplicate/shared-n-gram text cases with the
    largest-common-run DP. One (doc,page)-bucketed self-join."""
    from unstructured_spark.operators.overlap_audit import overlap_diagnostics

    docs = _t(spark, sf_dir, "documents")
    t = F.split(F.trim(F.col("text")), "\\s+")

    def el(ix, etype, start, ln, x1, y1, x2, y2):
        return F.struct(
            F.lit(ix).alias("ix"),
            F.lit(etype).alias("etype"),
            F.concat_ws(" ", F.slice(t, start, ln)).alias("text"),
            F.lit(float(x1)).alias("x1"),
            F.lit(float(y1)).alias("y1"),
            F.lit(float(x2)).alias("x2"),
            F.lit(float(y2)).alias("y2"),
        )

    els = docs.select(
        "doc_id",
        F.lit(1).alias("page"),
        F.explode(
            F.array(
                el(0, "Title", 1, 8, 0, 0, 100, 100),
                el(1, "NarrativeText", 4, 8, 10, 10, 90, 90),
                el(2, "Text", 6, 9, 95, 0, 195, 100),
                el(3, "Text", 9, 9, 150, 0, 260, 100),
            )
        ).alias("e"),
    ).select("doc_id", "page", "e.*")
    return overlap_diagnostics(els)


def _dedup_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8 extracted boxes per doc; every 4th is a <=2px-jittered copy of
    its predecessor, so pages carry genuine fake-bold-style dups."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("long")
    i = F.col("i")
    base = F.when(i % 4 == 3, i - 1).otherwise(i)
    jx = F.when(i % 4 == 3, (d + i) % 3).otherwise(F.lit(0))
    jy = F.when(i % 4 == 3, (d * 3 + i) % 3).otherwise(F.lit(0))
    x1 = (d * 37 + base * 131) % 900 + jx
    y1 = (d * 53 + base * 197) % 900 + jy
    w = 20 + (d + base * 29) % 100
    h = 8 + (d * 7 + base * 17) % 30
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.explode(F.sequence(F.lit(0), F.lit(7))).alias("i"),
    ).select(
        "doc_id",
        F.lit(1).alias("page_number"),
        i.cast("int").alias("box_id"),
        F.lit("pdfminer").alias("source"),
        F.lit("Text").alias("kind"),
        x1.cast("double").alias("x1"),
        y1.cast("double").alias("y1"),
        (x1 + w).cast("double").alias("x2"),
        (y1 + h).cast("double").alias("y2"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("is_extracted"),
    )


def _host_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2 model-detected host regions per doc (box_id 100+j)."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("long")
    j = F.col("j")
    x1 = (d * 11 + j * 401) % 500
    y1 = (d * 13 + j * 257) % 500
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.explode(F.sequence(F.lit(0), F.lit(1))).alias("j"),
    ).select(
        "doc_id",
        F.lit(1).alias("page_number"),
        (j + 100).cast("int").alias("box_id"),
        F.lit("inferred").alias("source"),
        F.when(j == 0, F.lit("Table")).otherwise(F.lit("NarrativeText")).alias("kind"),
        x1.cast("double").alias("x1"),
        y1.cast("double").alias("y1"),
        (x1 + 300 + d % 180).cast("double").alias("x2"),
        (y1 + 200 + d % 120).cast("double").alias("y2"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("is_extracted"),
    )


def _small_text_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6 pdfminer word/line boxes per doc, with text + is_extracted."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("long")
    i = F.col("i")
    x1 = (d * 19 + i * 83) % 950
    y1 = (d * 23 + i * 89) % 950
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.explode(F.sequence(F.lit(0), F.lit(5))).alias("i"),
    ).select(
        "doc_id",
        F.lit(1).alias("page_number"),
        i.cast("int").alias("box_id"),
        F.lit("pdfminer").alias("source"),
        F.lit("Text").alias("kind"),
        x1.cast("double").alias("x1"),
        y1.cast("double").alias("y1"),
        (x1 + 10 + (d + i) % 30).cast("double").alias("x2"),
        (y1 + 6 + (d * 5 + i) % 20).cast("double").alias("y2"),
        F.concat(F.lit("w"), F.col("doc_id"), F.lit("_"), i.cast("string")).alias("text"),
        F.lit("true").alias("is_extracted"),
    )


def _form_detections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic FormKey/FormValue/Table detections, one form page per
    doc, exercising every pairing rule: inline (key 1), below (key 2),
    parity-alternating nearest-of-two (key 3), orphan (key 4),
    value-conflict where the closer key 6 beats key 5, and a
    table-hosted pair (key 7 + value 205) that skip_table_regions
    drops. The whole page is rigidly translated by (doc%7, doc%11) so
    coordinates vary per doc while relations stay fixed."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("_d")
    dx = (d % 7).cast("double")
    dy = (d % 11).cast("double")
    ga = (10 + (d % 2) * 40).cast("double")
    gb = (30 - (d % 2) * 20).cast("double")

    def box(bid, kind, tag, x1, y1, x2, y2):
        txt = (
            F.lit(None).cast("string")
            if tag is None
            else F.concat(F.lit(tag + "_"), F.col("doc_id"))
        )
        return F.struct(
            F.lit(bid).cast("int").alias("box_id"),
            F.lit(kind).alias("kind"),
            txt.alias("text"),
            (x1 + dx).cast("double").alias("x1"),
            (y1 + dy).cast("double").alias("y1"),
            (x2 + dx).cast("double").alias("x2"),
            (y2 + dy).cast("double").alias("y2"),
        )

    z = F.lit(0.0)
    boxes = F.array(
        box(1, "FormKey", "k1", z + 50, z, z + 150, z + 20),
        box(2, "FormKey", "k2", z + 50, z + 100, z + 150, z + 120),
        box(3, "FormKey", "k3", z + 50, z + 200, z + 150, z + 220),
        box(4, "FormKey", "k4", z + 50, z + 400, z + 150, z + 420),
        box(5, "FormKey", "k5", z + 600, z, z + 700, z + 20),
        box(6, "FormKey", "k6", z + 720, z, z + 780, z + 20),
        box(7, "FormKey", "k7", z + 60, z + 300, z + 160, z + 320),
        box(200, "FormValue", "v200", z + 160, z, z + 260, z + 20),
        box(201, "FormValue", "v201", z + 50, z + 130, z + 150, z + 150),
        box(202, "FormValue", "v202", ga + 160, z + 200, ga + 260, z + 220),
        box(203, "FormValue", "v203", gb + 160, z + 200, gb + 260, z + 220),
        box(204, "FormValue", "v204", z + 800, z, z + 900, z + 20),
        box(205, "FormValue", "v205", z + 170, z + 300, z + 270, z + 320),
        box(900, "Table", None, z + 40, z + 290, z + 400, z + 400),
    )
    return (
        docs.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.col("doc_id").cast("long").alias("_d"),
        )
        .select("doc_id", F.explode(boxes).alias("b"))
        .select(
            "doc_id",
            F.lit(1).alias("page_number"),
            F.col("b.box_id").alias("box_id"),
            F.col("b.kind").alias("kind"),
            F.col("b.text").alias("text"),
            F.col("b.x1").alias("x1"),
            F.col("b.y1").alias("y1"),
            F.col("b.x2").alias("x2"),
            F.col("b.y2").alias("y2"),
        )
    )


@query(oracle="""
            with base as (
              select cast(doc_id as varchar) as doc_id,
                     cast(doc_id as bigint) as d
              from documents
            ), p as (
              select doc_id, cast(d % 7 as double) as dx,
                     cast(d % 11 as double) as dy,
                     cast(10 + (d % 2) * 40 as double) as ga,
                     cast(30 - (d % 2) * 20 as double) as gb
              from base
            ), tmpl(box_id, kind, tag, gx, bx1, by1, bx2, by2) as (
              values (1,'FormKey','k1',0, 50,0,150,20),
                     (2,'FormKey','k2',0, 50,100,150,120),
                     (3,'FormKey','k3',0, 50,200,150,220),
                     (4,'FormKey','k4',0, 50,400,150,420),
                     (5,'FormKey','k5',0, 600,0,700,20),
                     (6,'FormKey','k6',0, 720,0,780,20),
                     (7,'FormKey','k7',0, 60,300,160,320),
                     (200,'FormValue','v200',0, 160,0,260,20),
                     (201,'FormValue','v201',0, 50,130,150,150),
                     (202,'FormValue','v202',1, 160,200,260,220),
                     (203,'FormValue','v203',2, 160,200,260,220),
                     (204,'FormValue','v204',0, 800,0,900,20),
                     (205,'FormValue','v205',0, 170,300,270,320),
                     (900,'Table',null,0, 40,290,400,400)
            ), det as (
              select p.doc_id, 1 as page_number, t.box_id, t.kind,
                case when t.tag is null then null
                     else t.tag || '_' || p.doc_id end as text,
                t.bx1 + p.dx
                  + case t.gx when 1 then p.ga when 2 then p.gb
                              else 0 end as x1,
                t.by1 + p.dy as y1,
                t.bx2 + p.dx
                  + case t.gx when 1 then p.ga when 2 then p.gb
                              else 0 end as x2,
                t.by2 + p.dy as y2
              from p cross join tmpl t
            ), tbl as (
              select * from det where kind = 'Table'
            ), keys as (
              select k.* from det k
              where k.kind = 'FormKey' and not exists (
                select 1 from tbl t
                where t.doc_id = k.doc_id and t.page_number = k.page_number
                  and greatest(least(k.x2,t.x2)-greatest(k.x1,t.x1)+1, 0)
                      * greatest(least(k.y2,t.y2)-greatest(k.y1,t.y1)+1, 0)
                      > 0.5 * greatest(0.01, (k.x2-k.x1+1)*(k.y2-k.y1+1))
                  and (k.x2-k.x1+1)*(k.y2-k.y1+1)
                      <= (t.x2-t.x1+1)*(t.y2-t.y1+1))
            ), vals as (
              select v.* from det v
              where v.kind = 'FormValue' and not exists (
                select 1 from tbl t
                where t.doc_id = v.doc_id and t.page_number = v.page_number
                  and greatest(least(v.x2,t.x2)-greatest(v.x1,t.x1)+1, 0)
                      * greatest(least(v.y2,t.y2)-greatest(v.y1,t.y1)+1, 0)
                      > 0.5 * greatest(0.01, (v.x2-v.x1+1)*(v.y2-v.y1+1))
                  and (v.x2-v.x1+1)*(v.y2-v.y1+1)
                      <= (t.x2-t.x1+1)*(t.y2-t.y1+1))
            ), cand as (
              select k.doc_id, k.page_number,
                     k.box_id as kid, k.text as ktext,
                     v.box_id as vid, v.text as vtext,
                     case when (v.x1 - k.x2) >= 0 and (v.x1 - k.x2) <= 200
                               and least(k.y2,v.y2) - greatest(k.y1,v.y1)
                                   > 0.5 * least(k.y2-k.y1, v.y2-v.y1)
                          then 'inline' else 'below' end as relation,
                     cast(case when (v.x1 - k.x2) >= 0 and (v.x1 - k.x2) <= 200
                               and least(k.y2,v.y2) - greatest(k.y1,v.y1)
                                   > 0.5 * least(k.y2-k.y1, v.y2-v.y1)
                          then v.x1 - k.x2 else v.y1 - k.y2 end
                          as double) as gap
              from keys k join vals v
                on k.doc_id = v.doc_id and k.page_number = v.page_number
               and (((v.x1 - k.x2) >= 0 and (v.x1 - k.x2) <= 200
                     and least(k.y2,v.y2) - greatest(k.y1,v.y1)
                         > 0.5 * least(k.y2-k.y1, v.y2-v.y1))
                 or ((v.y1 - k.y2) >= 0 and (v.y1 - k.y2) <= 200
                     and least(k.x2,v.x2) - greatest(k.x1,v.x1)
                         > 0.5 * least(k.x2-k.x1, v.x2-v.x1)))
            ), best as (
              select * from (
                select c.*, row_number() over (
                  partition by doc_id, page_number, kid
                  order by case when relation = 'inline' then 0 else 1 end,
                           gap, vid) as rk
                from cand c) where rk = 1
            ), won as (
              select * from (
                select b.*, row_number() over (
                  partition by doc_id, page_number, vid
                  order by case when relation = 'inline' then 0 else 1 end,
                           gap, kid) as rv
                from best b) where rv = 1
            )
            select k.doc_id,
                   cast(k.page_number as bigint) as page_number,
                   cast(k.box_id as bigint) as key_box_id,
                   k.text as key_text,
                   cast(w.vid as bigint) as value_box_id,
                   w.vtext as value_text,
                   w.relation as relation,
                   w.gap as gap,
                   round(1.0 / (1.0 + w.gap / 100.0), 6) as confidence
            from keys k left join won w
              on w.doc_id = k.doc_id and w.page_number = k.page_number
             and w.kid = k.box_id
        """)
def q_form_kv_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hi_res form extraction — the reference's extract_forms surface
    (partition/pdf.py:1047-1080; FormKeyValuePair shape
    documents/elements.py:138-147; run_form_extraction itself is a
    NotImplementedError stub in the reference, so the model-free
    geometry here defines the semantics). Injectable detections →
    native per-page pairing join + two windows; the oracle replays the
    full geometry in SQL."""
    from unstructured_spark.operators.form_extraction import form_kv_pairs

    det = _form_detections(spark, sf_dir)
    out = form_kv_pairs(det)
    return out.select(
        "doc_id",
        F.col("page_number").cast("bigint").alias("page_number"),
        F.col("key_box_id").cast("bigint").alias("key_box_id"),
        "key_text",
        F.col("value_box_id").cast("bigint").alias("value_box_id"),
        "value_text",
        "relation",
        "gap",
        "confidence",
    )


@query(oracle=r"""
            with toks as (
              select doc_id,
                     list_filter(string_split(trim(text), ' '), x -> x != '') as w
              from documents
            ), synth as (
              select doc_id,
                     array_to_string(w[1:2], ' ') || ': '
                       || array_to_string(w[3:5], ' ') as line
              from toks where len(w) >= 5
            )
            select doc_id, cast(0 as bigint) as line_no,
                   regexp_extract(line, '^\s*([^:]{1,80}?)\s*:\s*(.*\S)\s*$', 1)
                     as key,
                   regexp_extract(line, '^\s*([^:]{1,80}?)\s*:\s*(.*\S)\s*$', 2)
                     as value
            from synth
            where regexp_extract(line, '^\s*([^:]{1,80}?)\s*:\s*(.*\S)\s*$', 1)
                  != ''
        """)
def q_form_kv_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based "Label: value" form extraction from plain text
    (operators/form_extraction.form_kv_from_text — the zero-detection
    fallback of the extract_forms surface). Lines are synthesized
    deterministically from document tokens (first two tokens label,
    next three value) so the regex pass has real input and the oracle
    replays construction + extraction."""
    from unstructured_spark.operators.form_extraction import form_kv_from_text

    docs = _t(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.col("text")), "\\s+"), lambda x: x != F.lit("")
    )
    line = F.concat(
        F.concat_ws(" ", F.slice(toks, 1, 2)),
        F.lit(": "),
        F.concat_ws(" ", F.slice(toks, 3, 3)),
    )
    synth = docs.select("doc_id", line.alias("text")).filter(
        F.size(toks) >= 5
    )
    return form_kv_from_text(synth)


# Layout-box operators: +1 pixel-inclusive IoU/subregion math
# with EPSILON_AREA=0.01 (reference pdfminer_processing.py:677-748);
# boxes regenerated from documents with integer arithmetic.
@query(oracle="""
            with g as (
              select cast(doc_id as varchar) as doc_id,
                     cast(doc_id as bigint) as d, t.i as i,
                     case when t.i % 4 = 3 then t.i - 1 else t.i end as base,
                     case when t.i % 4 = 3
                          then (cast(doc_id as bigint) + t.i) % 3 else 0 end as jx,
                     case when t.i % 4 = 3
                          then (cast(doc_id as bigint) * 3 + t.i) % 3 else 0 end as jy
              from documents cross join range(0, 8) t(i)
            ), boxes as (
              select doc_id, cast(i as bigint) as box_id,
                cast((d*37 + base*131) % 900 + jx as double) as x1,
                cast((d*53 + base*197) % 900 + jy as double) as y1,
                cast((d*37 + base*131) % 900 + jx
                     + 20 + (d + base*29) % 100 as double) as x2,
                cast((d*53 + base*197) % 900 + jy
                     + 8 + (d*7 + base*17) % 30 as double) as y2
              from g
            )
            select a.doc_id, a.box_id, a.x1, a.y1, a.x2, a.y2
            from boxes a
            where not exists (
              select 1 from boxes b
              where b.doc_id = a.doc_id and b.box_id > a.box_id
                and greatest(least(a.x2,b.x2)-greatest(a.x1,b.x1)+1, 0)
                  * greatest(least(a.y2,b.y2)-greatest(a.y1,b.y1)+1, 0)
                  > 0.5 * greatest(0.01,
                      (a.x2-a.x1+1)*(a.y2-a.y1+1) + (b.x2-b.x1+1)*(b.y2-b.y1+1)
                      - greatest(least(a.x2,b.x2)-greatest(a.x1,b.x1)+1, 0)
                        * greatest(least(a.y2,b.y2)-greatest(a.y1,b.y1)+1, 0))
            )
        """)
def q_box_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fake-bold/shadow-text bbox dedup: drop boxes whose IoU with a
    later box exceeds 0.5 (reference remove_duplicate_elements,
    pdfminer_processing.py:863-890) as a native per-page self-join.
    The oracle replays the +1 pixel-inclusive IoU in SQL."""
    from unstructured_spark.operators.layout_merge import remove_duplicate_boxes

    boxes = _dedup_boxes(spark, sf_dir)
    return remove_duplicate_boxes(boxes, threshold=0.5).select(
        "doc_id", F.col("box_id").cast("bigint").alias("box_id"),
        "x1", "y1", "x2", "y2",
    )


@query(oracle="""
            with hosts as (
              select cast(doc_id as varchar) as doc_id,
                cast(100 + t.j as bigint) as box_id,
                cast((cast(doc_id as bigint)*11 + t.j*401) % 500 as double) as x1,
                cast((cast(doc_id as bigint)*13 + t.j*257) % 500 as double) as y1,
                cast((cast(doc_id as bigint)*11 + t.j*401) % 500
                     + 300 + cast(doc_id as bigint) % 180 as double) as x2,
                cast((cast(doc_id as bigint)*13 + t.j*257) % 500
                     + 200 + cast(doc_id as bigint) % 120 as double) as y2
              from documents cross join range(0, 2) t(j)
            ), pdfm as (
              select cast(doc_id as varchar) as doc_id,
                cast(t.i as bigint) as box_id,
                cast((cast(doc_id as bigint)*19 + t.i*83) % 950 as double) as x1,
                cast((cast(doc_id as bigint)*23 + t.i*89) % 950 as double) as y1,
                cast((cast(doc_id as bigint)*19 + t.i*83) % 950
                     + 10 + (cast(doc_id as bigint) + t.i) % 30 as double) as x2,
                cast((cast(doc_id as bigint)*23 + t.i*89) % 950
                     + 6 + (cast(doc_id as bigint)*5 + t.i) % 20 as double) as y2
              from documents cross join range(0, 6) t(i)
            )
            select doc_id, 'inferred' as source, box_id, x1, y1 from hosts
            union all
            select p.doc_id, 'pdfminer' as source, p.box_id, p.x1, p.y1
            from pdfm p
            where (
              select count(*) from hosts h
              where h.doc_id = p.doc_id
                and greatest(least(p.x2,h.x2)-greatest(p.x1,h.x1)+1, 0)
                  * greatest(least(p.y2,h.y2)-greatest(p.y1,h.y1)+1, 0)
                  > 0.99 * greatest(0.01, (p.x2-p.x1+1)*(p.y2-p.y1+1))
                and (p.x2-p.x1+1)*(p.y2-p.y1+1) <= (h.x2-h.x1+1)*(h.y2-h.y1+1)
            ) <> 1
        """)
def q_clean_inner_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """clean_pdfminer_inner_elements (pdfminer_processing.py:831-860):
    pdfminer boxes inside exactly one model region are dropped. Native
    join + count; oracle replays the almost-subregion predicate."""
    from unstructured_spark.operators.layout_merge import clean_pdfminer_inner_elements

    df = _host_boxes(spark, sf_dir).unionByName(_small_text_boxes(spark, sf_dir))
    return clean_pdfminer_inner_elements(df).select(
        "doc_id", "source", F.col("box_id").cast("bigint").alias("box_id"),
        "x1", "y1",
    )


# coverage IoU uses PLAIN areas (reference calculate_bbox_area,
# pdfminer_processing.py:1392-1405) while the subregion mask
# keeps the +1 form — mirrored exactly from the Spark operator.
@query(oracle="""
            with hosts as (
              select cast(doc_id as varchar) as doc_id,
                cast(100 + t.j as bigint) as box_id,
                cast((cast(doc_id as bigint)*11 + t.j*401) % 500 as double) as x1,
                cast((cast(doc_id as bigint)*13 + t.j*257) % 500 as double) as y1,
                cast((cast(doc_id as bigint)*11 + t.j*401) % 500
                     + 300 + cast(doc_id as bigint) % 180 as double) as x2,
                cast((cast(doc_id as bigint)*13 + t.j*257) % 500
                     + 200 + cast(doc_id as bigint) % 120 as double) as y2
              from documents cross join range(0, 2) t(j)
            ), pdfm as (
              select cast(doc_id as varchar) as doc_id,
                cast(t.i as bigint) as box_id,
                'w' || cast(doc_id as varchar) || '_' || cast(t.i as varchar) as text,
                'true' as is_extracted,
                cast((cast(doc_id as bigint)*19 + t.i*83) % 950 as double) as x1,
                cast((cast(doc_id as bigint)*23 + t.i*89) % 950 as double) as y1,
                cast((cast(doc_id as bigint)*19 + t.i*83) % 950
                     + 10 + (cast(doc_id as bigint) + t.i) % 30 as double) as x2,
                cast((cast(doc_id as bigint)*23 + t.i*89) % 950
                     + 6 + (cast(doc_id as bigint)*5 + t.i) % 20 as double) as y2
              from documents cross join range(0, 6) t(i)
            ), joined as (
              select t.doc_id, t.box_id,
                (t.x2-t.x1)*(t.y2-t.y1) as t_area,
                s.box_id as s_id, s.text, s.is_extracted,
                greatest(least(t.x2,s.x2)-greatest(t.x1,s.x1), 0)
                  * greatest(least(t.y2,s.y2)-greatest(t.y1,s.y1), 0) as inter,
                (s.x2-s.x1)*(s.y2-s.y1) as s_area
              from hosts t left join pdfm s
                on s.doc_id = t.doc_id
                and greatest(least(s.x2,t.x2)-greatest(s.x1,t.x1)+1, 0)
                  * greatest(least(s.y2,t.y2)-greatest(s.y1,t.y1)+1, 0)
                  > 0.99 * greatest(0.01, (s.x2-s.x1+1)*(s.y2-s.y1+1))
                and (s.x2-s.x1+1)*(s.y2-s.y1+1) <= (t.x2-t.x1+1)*(t.y2-t.y1+1)
            )
            select doc_id, box_id,
              coalesce(string_agg(text, ' ' order by s_id), '') as agg_text,
              case when count(s_id) = 0 then 'false'
                   when min(case when is_extracted = 'true' then 1 else 0 end) = 1
                        and (case when t_area + sum(s_area) - sum(inter) = 0 then 1.0
                             else sum(inter) / (t_area + sum(s_area) - sum(inter))
                             end) > 0.25
                   then 'true' else 'partial' end as agg_is_extracted
            from joined
            group by doc_id, box_id, t_area
        """)
def q_embed_text_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aggregate_embedded_text_by_block (pdfminer_processing.py:908-947):
    per target region, source texts in reading order + the
    true/partial/false extraction grade from the plain-area coverage
    IoU. Native join+agg; full SQL oracle."""
    from unstructured_spark.operators.layout_merge import aggregate_embedded_text_by_block

    out = aggregate_embedded_text_by_block(
        _host_boxes(spark, sf_dir), _small_text_boxes(spark, sf_dir),
        subregion_threshold=0.99, text_coverage_threshold=0.25,
    )
    return out.select(
        "doc_id", F.col("box_id").cast("bigint").alias("box_id"),
        "agg_text", "agg_is_extracted",
    )


@query(oracle="""
            with hosts as (
              select cast(doc_id as varchar) as doc_id,
                cast(100 + t.j as bigint) as box_id,
                case when t.j = 0 then 'Table' else 'NarrativeText' end as kind,
                cast((cast(doc_id as bigint)*11 + t.j*401) % 500 as double) as x1,
                cast((cast(doc_id as bigint)*13 + t.j*257) % 500 as double) as y1,
                cast((cast(doc_id as bigint)*11 + t.j*401) % 500
                     + 300 + cast(doc_id as bigint) % 180 as double) as x2,
                cast((cast(doc_id as bigint)*13 + t.j*257) % 500
                     + 200 + cast(doc_id as bigint) % 120 as double) as y2
              from documents cross join range(0, 2) t(j)
            ), ocr as (
              select cast(doc_id as varchar) as doc_id,
                cast(t.i as bigint) as box_id,
                cast((cast(doc_id as bigint)*19 + t.i*83) % 950 as double) as x1,
                cast((cast(doc_id as bigint)*23 + t.i*89) % 950 as double) as y1,
                cast((cast(doc_id as bigint)*19 + t.i*83) % 950
                     + 10 + (cast(doc_id as bigint) + t.i) % 30 as double) as x2,
                cast((cast(doc_id as bigint)*23 + t.i*89) % 950
                     + 6 + (cast(doc_id as bigint)*5 + t.i) % 20 as double) as y2
              from documents cross join range(0, 6) t(i)
            )
            select doc_id, 'inferred' as source, kind, box_id, x1, y1 from hosts
            union all
            select o.doc_id, 'ocr' as source, 'UncategorizedText' as kind,
                   o.box_id, o.x1, o.y1
            from ocr o
            where not exists (
              select 1 from hosts h
              where h.doc_id = o.doc_id
                and greatest(least(o.x2,h.x2)-greatest(o.x1,h.x1)+1, 0)
                  * greatest(least(o.y2,h.y2)-greatest(o.y1,h.y1)+1, 0)
                  > 0.5 * greatest(0.01, (o.x2-o.x1+1)*(o.y2-o.y1+1))
                and (o.x2-o.x1+1)*(o.y2-o.y1+1) <= (h.x2-h.x1+1)*(h.y2-h.y1+1)
            )
        """)
def q_ocr_supplement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplement_layout_with_ocr (ocr.py:436-491): OCR word boxes not
    almost-covered (threshold 0.5) by a layout element are appended as
    UncategorizedText regions. Native anti-join; full SQL oracle."""
    from unstructured_spark.operators.layout_merge import supplement_layout_with_ocr

    layout = _host_boxes(spark, sf_dir)
    ocr = _small_text_boxes(spark, sf_dir).withColumn("source", F.lit("ocr"))
    out = supplement_layout_with_ocr(layout, ocr, subregion_threshold=0.5)
    return out.select(
        "doc_id", "source", "kind",
        F.col("box_id").cast("bigint").alias("box_id"), "x1", "y1",
    )


# One page constellation per doc for q_layout_merge, rigidly translated
# by (dx, dy) = (3d % 97, 7d % 89) so coordinates vary per doc while the
# rule interactions stay FIXED — which makes the merged output a single
# hand-derived pattern the DuckDB oracle can state from first principles.
# Boxes and the rule each exercises:
#   E0 full-page Image (0,0,1000,1000), untranslated   → rule 0 drop
#   E1 Image  (600,600,680,660)   + I1 Image same box  → rule 1 drops I1
#   E2 Text   (100,100,200,140)   + I2 Narrative (98,98,202,142):
#       IoU 4141/4725 = 0.876 > 0.75                   → rule 2: I2 keeps
#       its box, adopts E2's text, E2 dropped
#   E3a Text  (310,310,340,320) inside I3 (300,300,500,400) and
#   E3b Text  (450,350,510,400): inter 2601 > .75·3111 → rule 3 merges
#       both into I3, EXPANDING it to (300,300,510,400)
#   E4 Text   (700,100,730,120) inside I4 Figure (695,95,735,125):
#       I4 is image-like                               → rule 4 drops I4
#   E5 Text   (820,820,840,835) inside I5 Table (800,800,900,900):
#       Tables are exempt from rules 3/4               → both kept
#   E6 Text   (850,50,880,70) and I6 Title (50,600,150,700): untouched
# Survivors after the top-left re-sort + renumber (8 per doc):
#   0:E6  1:I2(text=e2_d)  2:E4  3:I3(expanded)  4:I6  5:E1  6:I5  7:E5
_LAYOUT_CONSTELLATION = {
    # (base coords, kind, text prefix or None) — translated unless noted
    "extracted": [
        (0, "Image", (0, 0, 1000, 1000), None, False),  # E0, page-anchored
        (1, "Image", (600, 600, 680, 660), None, True),
        (2, "Text", (100, 100, 200, 140), "e2_", True),
        (3, "Text", (310, 310, 340, 320), "e3a_", True),
        (4, "Text", (450, 350, 510, 400), "e3b_", True),
        (5, "Text", (700, 100, 730, 120), "e4_", True),
        (6, "Text", (820, 820, 840, 835), "e5_", True),
        (7, "Text", (850, 50, 880, 70), "e6_", True),
    ],
    "inferred": [
        (100, "Image", (600, 600, 680, 660), None, True),
        (101, "NarrativeText", (98, 98, 202, 142), None, True),
        (102, "NarrativeText", (300, 300, 500, 400), None, True),
        (103, "Figure", (695, 95, 735, 125), None, True),
        (104, "Table", (800, 800, 900, 900), None, True),
        (105, "Title", (50, 600, 150, 700), None, True),
    ],
}


def _constellation_boxes(spark: SparkSession, sf_dir: str, side: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("doc_id").cast("long").alias("_d"),
    )
    d = F.col("_d")
    dx, dy = (d * 3 % 97).cast("double"), (d * 7 % 89).cast("double")
    rows = []
    for bid, kind, (x1, y1, x2, y2), tpre, translated in _LAYOUT_CONSTELLATION[side]:
        ox = dx if translated else F.lit(0.0)
        oy = dy if translated else F.lit(0.0)
        rows.append(
            F.struct(
                F.lit(bid).cast("int").alias("box_id"),
                F.lit(kind).alias("kind"),
                (F.lit(float(x1)) + ox).alias("x1"),
                (F.lit(float(y1)) + oy).alias("y1"),
                (F.lit(float(x2)) + ox).alias("x2"),
                (F.lit(float(y2)) + oy).alias("y2"),
                (
                    F.concat(F.lit(tpre), F.col("doc_id"))
                    if tpre
                    else F.lit(None).cast("string")
                ).alias("text"),
            )
        )
    src = "pdfminer" if side == "extracted" else "inferred"
    return docs.select(
        "doc_id", F.explode(F.array(*rows)).alias("b")
    ).select(
        "doc_id",
        F.lit(1).alias("page_number"),
        F.col("b.box_id").alias("box_id"),
        F.lit(src).alias("source"),
        F.col("b.kind").alias("kind"),
        F.col("b.x1").alias("x1"),
        F.col("b.y1").alias("y1"),
        F.col("b.x2").alias("x2"),
        F.col("b.y2").alias("y2"),
        F.col("b.text").alias("text"),
        F.lit("true" if side == "extracted" else None).cast("string").alias(
            "is_extracted"
        ),
    )


# q_layout_merge: the fixture
# is one rule-exercising constellation rigidly translated per
# doc (see _LAYOUT_CONSTELLATION), so the merged page is a
# single hand-derived 8-box pattern with per-doc offsets — the
# oracle states it from first principles and the engine must
# reproduce it through rules 0-5, the rule-3 expansion, the
# top-left re-sort, and the renumber.
@query(oracle="""
            with d as (
              select cast(doc_id as varchar) as doc_id,
                     cast((doc_id * 3) % 97 as double) as dx,
                     cast((doc_id * 7) % 89 as double) as dy
              from documents
            )
            select d.doc_id,
                   cast(u.b.box_id as bigint) as box_id,
                   u.b.source as source, u.b.kind as kind,
                   u.b.x1 + dx as x1, u.b.y1 + dy as y1,
                   u.b.x2 + dx as x2, u.b.y2 + dy as y2,
                   case when u.b.tpre is null then null
                        else u.b.tpre || d.doc_id end as text
            from d, unnest([
              {box_id: 0, source: 'pdfminer', kind: 'Text',
               x1: 850.0, y1: 50.0, x2: 880.0, y2: 70.0, tpre: 'e6_'},
              {box_id: 1, source: 'inferred', kind: 'NarrativeText',
               x1: 98.0, y1: 98.0, x2: 202.0, y2: 142.0, tpre: 'e2_'},
              {box_id: 2, source: 'pdfminer', kind: 'Text',
               x1: 700.0, y1: 100.0, x2: 730.0, y2: 120.0, tpre: 'e4_'},
              {box_id: 3, source: 'inferred', kind: 'NarrativeText',
               x1: 300.0, y1: 300.0, x2: 510.0, y2: 400.0,
               tpre: cast(null as varchar)},
              {box_id: 4, source: 'inferred', kind: 'Title',
               x1: 50.0, y1: 600.0, x2: 150.0, y2: 700.0,
               tpre: cast(null as varchar)},
              {box_id: 5, source: 'pdfminer', kind: 'Image',
               x1: 600.0, y1: 600.0, x2: 680.0, y2: 660.0,
               tpre: cast(null as varchar)},
              {box_id: 6, source: 'inferred', kind: 'Table',
               x1: 800.0, y1: 800.0, x2: 900.0, y2: 900.0,
               tpre: cast(null as varchar)},
              {box_id: 7, source: 'pdfminer', kind: 'Text',
               x1: 820.0, y1: 820.0, x2: 840.0, y2: 835.0, tpre: 'e5_'}
            ]) as u(b)
        """)
def q_layout_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 5-rule inferred/extracted page merge
    (array_merge_inferred_layout_with_extracted_layout,
    pdfminer_processing.py:250-410) over a rigid-translation
    constellation that exercises every rule incl. the rule-3 box
    expansion — hand-derived expected output, hash-checked against the
    oracle (upgraded from rows-only in r8); unit tests in
    tests/test_layout_merge.py still pin each rule against the
    reference's own fixtures."""
    from unstructured_spark.operators.layout_merge import merge_inferred_with_extracted

    inferred = _constellation_boxes(spark, sf_dir, "inferred")
    extracted = _constellation_boxes(spark, sf_dir, "extracted")
    merged = merge_inferred_with_extracted(inferred, extracted, 1000.0, 1000.0)
    return merged.select(
        "doc_id", F.col("box_id").cast("bigint").alias("box_id"),
        "source", "kind", "x1", "y1", "x2", "y2", "text",
    )
