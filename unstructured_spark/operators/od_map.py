"""Object-detection mean-average-precision as a Spark job (reference
``unstructured/metrics/object_detection.py`` — torch tensor pipeline,
721 lines; SURVEY §2.9).

Two-stage Spark-first design instead of the reference's in-memory
tensor crunch:

1. **Per-page greedy matching** (`_match_page`) — cogrouped
   ``applyInPandas`` keyed by (doc_id, page_number): predictions sorted
   by confidence claim the highest-IoU unclaimed ground-truth box of the
   same class per IoU threshold (object_detection.py:341-420
   ``_compute_targets``: IoU matrix, class-mismatch zeroing, stable
   descending sort). Emits one (class, score, iou_threshold, tp) row per
   prediction×threshold. Pages are independent → embarrassingly
   parallel; the only shuffle is the cogroup key.

2. **Dataset-level AP natively** (`average_precision`) — the global
   sort-by-confidence + cumulative precision/recall curve is window
   functions, not a collect:

   - rank & cumulative TP over ``Window.partitionBy(class, thr)
     .orderBy(score desc)``
   - precision = cumTP/rank, recall = cumTP/n_positives (n_positives
     from a native groupBy on the ground-truth side, broadcast-joined)
   - interpolated precision = ``max(precision)`` over
     ``rowsBetween(currentRow, unboundedFollowing)`` — the standard
     right-to-left running max of PASCAL/COCO AP
   - AP = Σ (recall − lag(recall)) · interp_precision

   mAP = mean of per-class AP, then mean over thresholds
   (object_detection.py:161-198 averages AP over present classes).

At scale the window partitions by (class, threshold) — bounded
cardinality, each holding the global ranked list for one class. For
billions of boxes per class, pre-aggregate identical scores before the
window; class count (≈10s) keeps partitions wide but singly-keyed, so
this is the one stage that must fit a class's predictions per partition
— acceptable because stage 1 already reduced rows to one per
prediction×threshold.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from unstructured_spark.operators.storage import planned_partitions

MATCH_SCHEMA = "cls string, score double, iou_threshold double, tp int"

DEFAULT_IOU_THRESHOLDS = (0.5, 0.75)


def _iou(a, b) -> float:
    ix1, iy1 = max(a[0], b[0]), max(a[1], b[1])
    ix2, iy2 = min(a[2], b[2]), min(a[3], b[3])
    inter = max(0.0, ix2 - ix1) * max(0.0, iy2 - iy1)
    if inter == 0:
        return 0.0
    area_a = (a[2] - a[0]) * (a[3] - a[1])
    area_b = (b[2] - b[0]) * (b[3] - b[1])
    return inter / (area_a + area_b - inter)


def _fresh(df: DataFrame, cols) -> DataFrame:
    """Re-alias every column so the plan branch carries fresh attribute IDs.

    When both cogroup sides derive from the same scan they share identical
    expression IDs; Catalyst's attribute deduplication for
    FlatMapCoGroupsInPandas can then silently drop the shared columns from
    the right-side pandas frame (observed under AQE in long-lived
    sessions). Disjoint IDs per side remove the trigger; this is a
    plan-only rewrite with zero runtime cost.
    """
    return df.select([F.col(c).alias(c) for c in cols])


def _match_page(pred_rows, gt_rows, thresholds, rows) -> None:
    """Greedy per-page matching; appends (cls, score, thr, tp) to rows.

    pred_rows: [(score, cls, box)], gt_rows: [(cls, box)].
    """
    preds = sorted(pred_rows, key=lambda t: -t[0])
    for thr in thresholds:
        claimed: set[int] = set()
        for score, cls, box in preds:
            best_i, best_iou = -1, 0.0
            for i, (gcls, gbox) in enumerate(gt_rows):
                if gcls != cls or i in claimed:
                    continue
                v = _iou(box, gbox)
                if v > best_iou:
                    best_i, best_iou = i, v
            tp = 1 if best_i >= 0 and best_iou > thr else 0
            if tp:
                claimed.add(best_i)
            rows.append((cls, score, thr, tp))


def _match_bucket(pred: pd.DataFrame, gt: pd.DataFrame, keys, thresholds) -> pd.DataFrame:
    """One UDF call per *bucket* of pages: groups both sides by the page
    key in pandas and matches page-by-page. Amortizes the per-group
    Arrow/Python round-trip that a per-page cogroup would pay 10⁴×."""
    kcols = list(keys)

    def pages(df: pd.DataFrame, builder):
        out: dict = {}
        if len(df) == 0:
            return out
        for k, grp in df.groupby(kcols, sort=False):
            out[k] = builder(grp)
        return out

    gt_pages = pages(
        gt,
        lambda g: list(
            zip(g["cls"], zip(g["x1"], g["y1"], g["x2"], g["y2"]))
        ),
    )
    pred_pages = pages(
        pred,
        lambda p: list(
            zip((float(s) for s in p["score"]), p["cls"],
                zip(p["x1"], p["y1"], p["x2"], p["y2"]))
        ),
    )
    rows: list = []
    for k, preds in pred_pages.items():
        _match_page(preds, gt_pages.get(k, []), thresholds, rows)
    return pd.DataFrame(
        rows, columns=["cls", "score", "iou_threshold", "tp"]
    )


def match_detections(
    pred: DataFrame,
    gt: DataFrame,
    iou_thresholds=DEFAULT_IOU_THRESHOLDS,
    keys=("doc_id", "page_number"),
    num_buckets: int | None = None,
) -> DataFrame:
    """Stage 1: per-page TP/FP flags per prediction × IoU threshold.

    pred: (doc_id, page_number, cls, score, x1, y1, x2, y2)
    gt:   (doc_id, page_number, cls, x1, y1, x2, y2)

    Pages are hashed into ``num_buckets`` buckets (default 4× cluster
    parallelism) and the cogroup runs per bucket, not per page: one
    pandas UDF call processes thousands of pages. The explicit
    ``repartition(n, bucket)`` pins the shuffle width — AQE never
    coalesces user-numbered repartitions, so a byte-tiny but CPU-heavy
    matching stage still fans out across every core.
    """
    thresholds = tuple(float(t) for t in iou_thresholds)
    pcols = [*keys, "cls", "score", "x1", "y1", "x2", "y2"]
    gcols = [*keys, "cls", "x1", "y1", "x2", "y2"]
    # bucket count: 4 buckets/core smooths bucket skew at real input
    # widths; for a small-fixture single-split input (bench parquet)
    # the extra tasks are pure per-task Python round-trip overhead, so
    # the multiplier scales with the input's own split count instead
    # (measured 0.75x at sf0.1 with 1 split -> 32 buckets vs 128); an
    # unknown count sizes to full width
    par = pred.sparkSession.sparkContext.defaultParallelism
    if num_buckets:
        nb = num_buckets
    else:
        in_parts = planned_partitions(pred)
        nb = 4 * par if in_parts is None else min(4 * par, max(par, in_parts * 4))
    bucket = F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(nb))
    pred_b = _fresh(pred, pcols).withColumn("_b", bucket).repartition(nb, "_b")
    gt_b = _fresh(gt, gcols).withColumn("_b", bucket).repartition(nb, "_b")
    return (
        pred_b.groupBy("_b")
        .cogroup(gt_b.groupBy("_b"))
        .applyInPandas(
            lambda p, g: _match_bucket(p, g, keys, thresholds),
            schema=MATCH_SCHEMA,
        )
    )


def average_precision(matches: DataFrame, gt: DataFrame) -> DataFrame:
    """Stage 2: per (class, IoU-threshold) AP, all window functions."""
    npos = gt.groupBy("cls").agg(F.count("*").alias("npos"))
    w = Window.partitionBy("cls", "iou_threshold").orderBy(
        F.col("score").desc(), F.col("tp").desc()
    )
    curve = (
        matches.join(F.broadcast(npos), "cls", "inner")
        .withColumn("rank", F.row_number().over(w))
        # ROWS framing: the default RANGE frame treats tied
        # (score, tp) rows as peers, counting future tied TPs into
        # cum_tp (precision > 1, inflated AP) — ties are the norm in
        # detector output
        .withColumn(
            "cum_tp",
            F.sum("tp").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .withColumn("precision", F.col("cum_tp") / F.col("rank"))
        .withColumn("recall", F.col("cum_tp") / F.col("npos"))
        .withColumn(
            "p_interp",
            F.max("precision").over(
                w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
            ),
        )
        .withColumn(
            "d_recall", F.col("recall") - F.lag("recall", 1, 0.0).over(w)
        )
    )
    return curve.groupBy("cls", "iou_threshold").agg(
        F.round(F.sum(F.col("d_recall") * F.col("p_interp")), 6).alias("ap")
    )


def od_map(
    pred: DataFrame,
    gt: DataFrame,
    iou_thresholds=DEFAULT_IOU_THRESHOLDS,
    keys=("doc_id", "page_number"),
) -> DataFrame:
    """End-to-end: one row (m_ap, by-threshold mean APs are derivable
    from :func:`average_precision`). Classes with ground truth but no
    predictions contribute AP 0 (reference averages over present
    classes, object_detection.py:190-198)."""
    matches = match_detections(pred, gt, iou_thresholds, keys)
    ap = average_precision(matches, gt)
    thr_df = gt.sparkSession.range(1).select(
        F.explode(
            F.array(*[F.lit(float(t)) for t in iou_thresholds])
        ).alias("iou_threshold")
    )
    all_cls = gt.select("cls").distinct().crossJoin(thr_df)
    full = all_cls.join(ap, ["cls", "iou_threshold"], "left").fillna(
        0.0, subset=["ap"]
    )
    per_class = full.groupBy("cls").agg(F.avg("ap").alias("ap_over_thr"))
    return per_class.agg(F.round(F.avg("ap_over_thr"), 6).alias("m_ap"))
