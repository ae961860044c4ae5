"""Model-free hi_res layout operators, mirroring the reference's
test_unstructured/partition/pdf_image/test_pdfminer_processing.py."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from unstructured_spark.operators import layout_merge as lm

COLS = "doc_id string, page_number int, box_id int, source string, kind string, " \
       "x1 double, y1 double, x2 double, y2 double, text string, is_extracted string"


def _boxes(spark, rows):
    """rows: (box_id, source, kind, x1,y1,x2,y2, text[, is_extracted])"""
    full = [
        ("d1", 1, r[0], r[1], r[2], float(r[3]), float(r[4]), float(r[5]),
         float(r[6]), r[7], r[8] if len(r) > 8 else None)
        for r in rows
    ]
    return spark.createDataFrame(full, COLS)


# --- numpy predicate parity with reference truth tables -------------------

@pytest.mark.parametrize(
    ("coords1", "coords2", "expected"),
    [
        (
            [[0, 0, 10, 10], [10, 0, 20, 10], [10, 10, 20, 20]],
            [[0, 0, 10, 10], [0, 0, 12, 12]],
            [[True, True], [False, False], [False, False]],
        ),
        (
            [[0, 0, 10, 10], [10, 0, 20, 10], [10, 10, 20, 20]],
            [[0, 0, 10, 10], [10, 10, 22, 22], [0, 0, 5, 5]],
            [[True, False, False], [False, False, False], [False, True, False]],
        ),
        (
            [[0, 0, 10, 10], [10, 10, 10, 10]],
            [[0, 0, 10, 10], [10, 10, 22, 22], [0, 0, 5, 5]],
            [[True, False, False], [True, True, False]],
        ),
    ],
)
def test_np_subregion_matches_reference(coords1, coords2, expected):
    got = lm._np_subregion(
        np.array(coords1, dtype=float), np.array(coords2, dtype=float), 0.75
    )
    np.testing.assert_array_equal(got, expected)


@pytest.mark.parametrize(
    ("coords", "threshold", "expected"),
    [
        (
            [[0, 0, 10, 10], [2, 2, 12, 12], [10, 10, 20, 20]],
            0.5,
            [[True, True, False], [True, True, False], [False, False, True]],
        ),
        (
            [[0, 0, 10, 10], [2, 2, 12, 12], [10, 10, 20, 20]],
            0.9,
            [[True, False, False], [False, True, False], [False, False, True]],
        ),
        (
            [[0, 0, 10, 10], [10, 10, 10, 10]],
            0.5,
            [[True, False], [False, True]],
        ),
    ],
)
def test_np_self_iou_matches_reference(coords, threshold, expected):
    c = np.array(coords, dtype=float)
    np.testing.assert_array_equal(lm._np_iou_gt(c, c, threshold), expected)


# --- remove_duplicate_boxes ------------------------------------------------

def test_remove_duplicate_boxes(spark):
    df = _boxes(spark, [
        (0, "pdfminer", "Text", 0, 0, 10, 10, "Text 1"),
        (1, "pdfminer", "Text", 0, 0, 10, 10, "Text 2"),
        (2, "pdfminer", "Text", 20, 20, 30, 30, "Text 3"),
    ])
    out = lm.remove_duplicate_boxes(df).orderBy("box_id").collect()
    assert [r["text"] for r in out] == ["Text 2", "Text 3"]


def test_remove_duplicate_boxes_keeps_distinct_pages(spark):
    # same coords on different pages are NOT duplicates
    rows = [
        ("d1", 1, 0, "pdfminer", "Text", 0.0, 0.0, 10.0, 10.0, "a", None),
        ("d1", 2, 0, "pdfminer", "Text", 0.0, 0.0, 10.0, 10.0, "b", None),
    ]
    df = spark.createDataFrame(rows, COLS)
    assert lm.remove_duplicate_boxes(df).count() == 2


# --- clean_pdfminer_inner_elements ----------------------------------------

def test_clean_pdfminer_inner_elements(spark):
    df = _boxes(spark, [
        (0, "inferred", "Table", 0, 0, 100, 100, "Table with inner elements"),
        (1, "pdfminer", "Text", 50, 50, 70, 70, "text1"),
        (2, "pdfminer", "Text", 70, 70, 80, 80, "text2"),
    ])
    out = lm.clean_pdfminer_inner_elements(df).collect()
    assert len(out) == 1 and out[0]["kind"] == "Table"


def test_clean_pdfminer_keeps_non_pdfminer_sources(spark):
    df = _boxes(spark, [
        (0, "inferred", "Table", 0, 0, 100, 100, "Table with inner elements"),
        (1, "inferred", "Text", 50, 50, 70, 70, "text1"),
        (2, "inferred", "Text", 70, 70, 80, 80, "text2"),
    ])
    assert lm.clean_pdfminer_inner_elements(df).count() == 3


def test_clean_pdfminer_keeps_multi_host_boxes(spark):
    # subregion of TWO non-pdfminer boxes -> count != 1 -> kept
    df = _boxes(spark, [
        (0, "inferred", "Table", 0, 0, 100, 100, "outer"),
        (1, "inferred", "Table", 0, 0, 100, 100, "outer-dup"),
        (2, "pdfminer", "Text", 50, 50, 70, 70, "inner"),
    ])
    assert lm.clean_pdfminer_inner_elements(df).count() == 3


# --- aggregate_embedded_text_by_block -------------------------------------

def test_aggregate_by_block(spark):
    sources = _boxes(spark, [
        (0, "pdfminer", "Text", 0, 0, 300, 20, "Inside region1", "true"),
        (1, "pdfminer", "Text", 0, 20, 300, 80, None, "true"),
        (2, "pdfminer", "Text", 0, 80, 200, 300, "Inside region2", "true"),
        (3, "pdfminer", "Text", 250, 250, 350, 350, "Outside region", "true"),
    ])
    targets = _boxes(spark, [(0, "inferred", "Text", 0, 0, 300, 300, None)])
    row = lm.aggregate_embedded_text_by_block(targets, sources).collect()[0]
    assert row["agg_text"] == "Inside region1 Inside region2"
    assert row["agg_is_extracted"] == "true"


def test_aggregate_only_partially_fill_target(spark):
    sources = _boxes(spark, [(0, "pdfminer", "Text", 0, 0, 20, 20, "Inside region1", "true")])
    targets = _boxes(spark, [(0, "inferred", "Text", 0, 0, 300, 300, None)])
    row = lm.aggregate_embedded_text_by_block(targets, sources).collect()[0]
    assert row["agg_text"] == "Inside region1"
    assert row["agg_is_extracted"] == "partial"


def test_aggregate_not_filling_target(spark):
    sources = _boxes(spark, [(0, "pdfminer", "Text", 300, 0, 400, 20, "outside", "true")])
    targets = _boxes(spark, [(0, "inferred", "Text", 0, 0, 300, 300, None)])
    row = lm.aggregate_embedded_text_by_block(targets, sources).collect()[0]
    assert row["agg_text"] == ""
    assert row["agg_is_extracted"] == "false"


# --- OCR supplement --------------------------------------------------------

def test_supplement_layout_with_ocr(spark):
    layout = _boxes(spark, [(0, "inferred", "Text", 0, 0, 100, 100, "detected")])
    ocr = _boxes(spark, [
        (0, "ocr", "Text", 10, 10, 50, 50, "covered word"),
        (1, "ocr", "Text", 200, 200, 260, 220, "new word"),
    ])
    out = lm.supplement_layout_with_ocr(layout, ocr).collect()
    texts = {r["text"]: r["kind"] for r in out}
    assert "covered word" not in texts
    assert texts["new word"] == "UncategorizedText"
    assert texts["detected"] == "Text"


def test_merge_layout_with_ocr_text_fills_invalid_text(spark):
    layout = _boxes(spark, [
        (0, "inferred", "Text", 0, 0, 100, 100, ""),
        (1, "inferred", "Text", 200, 0, 300, 100, "already good"),
    ])
    ocr = _boxes(spark, [
        (0, "ocr", "Text", 5, 5, 40, 20, "hello"),
        (1, "ocr", "Text", 45, 5, 90, 20, "world"),
    ])
    out = {r["box_id"]: r["text"] for r in
           lm.merge_layout_with_ocr_text(layout, ocr, supplement=False).collect()}
    assert out[0] == "hello world"
    assert out[1] == "already good"


# --- the 5-rule page merge -------------------------------------------------

def _merge(spark, inferred_rows, extracted_rows, w=1000.0, h=1000.0):
    inf = _boxes(spark, inferred_rows)
    ext = _boxes(spark, extracted_rows).withColumn("source", F.lit("pdfminer"))
    return lm.merge_inferred_with_extracted(inf, ext, w, h).collect()


def test_merge_rule0_full_page_image_dropped(spark):
    out = _merge(
        spark,
        [(0, "inferred", "Text", 10, 10, 200, 40, "title")],
        [(0, "pdfminer", "Image", 0, 0, 1000, 1000, None),
         (1, "pdfminer", "Text", 10, 10, 200, 40, "title text")],
    )
    assert all(r["kind"] != "Image" for r in out)


def test_merge_rule1_inferred_same_as_extracted_image(spark):
    out = _merge(
        spark,
        [(0, "inferred", "Figure", 100, 100, 300, 300, None)],
        [(0, "pdfminer", "Image", 101, 101, 299, 299, None)],
    )
    assert len(out) == 1
    assert out[0]["source"] == "pdfminer" and out[0]["kind"] == "Image"


def test_merge_rule2_same_region_takes_extracted_text(spark):
    out = _merge(
        spark,
        [(0, "inferred", "NarrativeText", 100, 100, 500, 200, None)],
        [(0, "pdfminer", "Text", 102, 101, 498, 199, "embedded words", "true")],
    )
    assert len(out) == 1
    r = out[0]
    assert r["source"] == "inferred" and r["text"] == "embedded words"
    assert r["is_extracted"] == "true"
    # box expanded to contain both
    assert r["x1"] == 100.0 and r["x2"] == 500.0


def test_merge_rule3_subregion_merges_and_expands(spark):
    out = _merge(
        spark,
        [(0, "inferred", "NarrativeText", 100, 100, 500, 300, None)],
        [(0, "pdfminer", "Text", 120, 120, 480, 160, "line one", "true"),
         (1, "pdfminer", "Text", 120, 170, 490, 210, "line two", "true")],
    )
    assert len(out) == 1
    assert out[0]["source"] == "inferred"


def test_merge_rule4_inferred_subregion_of_extracted_dropped(spark):
    out = _merge(
        spark,
        [(0, "inferred", "NarrativeText", 120, 120, 200, 160, None)],
        [(0, "pdfminer", "Text", 100, 100, 500, 300, "big extracted block", "true")],
    )
    assert len(out) == 1
    assert out[0]["source"] == "pdfminer"


def test_merge_rule4_inferred_table_survives(spark):
    # tables are exempt from rule-4 removal AND from rule-3 merging
    out = _merge(
        spark,
        [(0, "inferred", "Table", 100, 100, 500, 300, None)],
        [(0, "pdfminer", "Text", 120, 120, 480, 160, "cell text", "true")],
    )
    sources = sorted(r["source"] for r in out)
    assert sources == ["inferred", "pdfminer"]


def test_merge_empty_sides(spark):
    inf_only = _merge(spark, [(0, "inferred", "Text", 0, 0, 10, 10, "t")], [])
    ext_only = _merge(spark, [], [(0, "pdfminer", "Text", 0, 0, 10, 10, "t")])
    assert len(inf_only) == 1 and inf_only[0]["source"] == "inferred"
    assert len(ext_only) == 1 and ext_only[0]["source"] == "pdfminer"


def test_merge_output_reading_order(spark):
    out = _merge(
        spark,
        [(0, "inferred", "Text", 0, 500, 100, 600, "below"),
         (1, "inferred", "Text", 0, 0, 100, 100, "above")],
        [(0, "pdfminer", "Text", 300, 250, 400, 350, "middle", "true")],
    )
    assert [r["text"] for r in out] == ["above", "middle", "below"]
    assert [r["box_id"] for r in out] == [0, 1, 2]


def test_merge_exact_tie_puts_extracted_first(spark):
    # same_region_threshold=1.0 lets an inferred box with the exact
    # coordinates of a kept extracted image survive rule 1; with no
    # extracted text the merge returns early, and the reading-order
    # sort still settles the 4-coordinate tie extracted-first
    inf = _boxes(spark, [(0, "inferred", "Figure", 100, 100, 300, 300, None)])
    ext = _boxes(spark, [(0, "pdfminer", "Image", 100, 100, 300, 300, None)])
    out = lm.merge_inferred_with_extracted(
        inf, ext, 1000.0, 1000.0, same_region_threshold=1.0
    ).collect()
    assert [(r["source"], r["kind"]) for r in out] == [
        ("pdfminer", "Image"), ("inferred", "Figure")
    ]


def test_remove_duplicate_boxes_dense_page_not_decimated(spark):
    # mirrors reference test_remove_duplicate_elements_dense_page_is_not_decimated:
    # 2500 unique non-overlapping boxes + one exact duplicate of box 0
    # appended last -> only the duplicate pair collapses
    rows = [
        ("d1", 1, i, "pdfminer", "Text",
         float((i % 50) * 20), float((i // 50) * 20),
         float((i % 50) * 20 + 10), float((i // 50) * 20 + 10),
         f"Text {i}", None)
        for i in range(2500)
    ]
    rows.append(("d1", 1, 2500, "pdfminer", "Text", 0.0, 0.0, 10.0, 10.0, "dup", None))
    df = spark.createDataFrame(rows, COLS)
    assert lm.remove_duplicate_boxes(df).count() == 2500


def test_merge_batch_invariant_page_walk(spark):
    # the mapInPandas page walk detects group boundaries on raw arrays
    # and carries the tail key across Arrow batches; forcing tiny
    # batches makes nearly every page straddle a batch boundary, so
    # the result must be identical to the one-batch-per-partition run
    def build(n_docs=3, pages_per_doc=8):
        inf, ext = [], []
        for d in range(n_docs):
            for p in range(1, pages_per_doc + 1):
                did = f"doc{d}"
                for i in range(3):
                    inf.append((did, p, i, "inferred", "NarrativeText",
                                50.0, 100.0 * i + 10, 500.0, 100.0 * i + 60,
                                None, None))
                for i in range(2):
                    ext.append((did, p, i, "pdfminer", "Text",
                                60.0, 100.0 * i + 20, 490.0, 100.0 * i + 50,
                                f"text {d}/{p}/{i}", "true"))
        return (spark.createDataFrame(inf, COLS),
                spark.createDataFrame(ext, COLS))

    inf, ext = build()
    key = ["doc_id", "page_number", "box_id"]
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf, None)
    try:
        spark.conf.set(conf, "10000")
        big = [tuple(r) for r in
               lm.merge_inferred_with_extracted(inf, ext, 1000.0, 1000.0)
               .orderBy(*key).collect()]
        spark.conf.set(conf, "7")
        tiny = [tuple(r) for r in
                lm.merge_inferred_with_extracted(inf, ext, 1000.0, 1000.0)
                .orderBy(*key).collect()]
    finally:
        if old is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, old)
    # rule 3 merges each page's extracted lines into the inferred
    # blocks; what matters here is batch-size invariance, not the
    # merge outcome itself (pinned by the rule tests above)
    assert {(r[0], r[1]) for r in big} == {
        (f"doc{d}", p) for d in range(3) for p in range(1, 9)
    }
    assert big == tiny
