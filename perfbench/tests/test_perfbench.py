"""Tests of the benchmark itself: input determinism, span arithmetic,
the declared metric set, and a tiny run of every workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import workloads  # noqa: E402
from spans import Span, Tracer, self_ms  # noqa: E402


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# ---------------------------------------------------------------------------
# generator
# ---------------------------------------------------------------------------


def test_office_corpus_is_byte_identical_per_seed(tmp_path):
    for d in ("a", "b"):
        gen.write_files(gen.office_corpus(7, 90), str(tmp_path / d))
    gen.write_files(gen.office_corpus(8, 90), str(tmp_path / "c"))
    a, b, c = (gen.digest_dir(str(tmp_path / d)) for d in "abc")
    assert a == b
    assert a != c


def test_office_corpus_shape():
    files = gen.office_corpus(3, 200)
    assert {f.fmt for f in files} == set(gen.FORMATS)
    bad = [f for f in files if f.malformed]
    assert len(bad) == round(200 * gen.MALFORMED_SHARE)
    assert all(f.fmt in ("docx", "pptx", "xlsx", "pdf") for f in bad)
    by_name = {f.name: f for f in files}
    copies = [f for f in files if f.copy_of]
    assert len(copies) == round(200 * gen.COPY_SHARE)
    assert all(by_name[f.copy_of].data == f.data for f in copies)


def test_warc_shards_are_byte_identical_per_seed(tmp_path):
    for d in ("a", "b"):
        gen.write_warc_shards(gen.crawl_pages(5, 60), str(tmp_path / d))
    assert gen.digest_dir(str(tmp_path / "a")) == gen.digest_dir(str(tmp_path / "b"))


def test_crawl_truth():
    pages = gen.crawl_pages(4, 80)
    groups = {p.group for p in pages if p.group is not None}
    assert len(pages) == 80 and groups
    keep = gen.expected_survivors(pages)
    # one survivor per group, every unique page, no low-quality page
    assert len(keep) == len(groups) + sum(
        p.group is None and not p.low_quality for p in pages
    )
    assert not keep & {p.doc_id for p in pages if p.low_quality}
    assert all(300 <= len(p.main.split()) <= 800 for p in pages if not p.low_quality)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


def _span(i, parent, start, end, name="x"):
    return Span(i, name, "build", parent, "w", 1, start, end)


def test_self_time_subtracts_covered_child_time():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 4.0),  # overlaps its sibling: covered once
        _span(3, 1, 1.5, 2.5),  # grandchild: not the root's direct child
        _span(4, 0, 9.0, 12.0),  # runs past the parent: clipped
        _span(5, None, 20.0, 21.0),
    ]
    assert self_ms(spans[0], spans) == pytest.approx((10 - 3 - 1) * 1e3)
    assert self_ms(spans[1], spans) == pytest.approx(1e3)
    assert self_ms(spans[3], spans) == pytest.approx(1e3)
    assert self_ms(spans[5], spans) == pytest.approx(1e3)


def test_tracer_records_the_parent_chain():
    tr = Tracer("w")
    with tr.span("outer"):
        with tr.span("inner", "action"):
            pass
    with tr.span("next"):
        pass
    outer, inner, nxt = tr.spans
    assert (outer.parent, inner.parent, nxt.parent) == (None, outer.id, None)
    assert outer.start <= inner.start <= inner.end <= outer.end <= nxt.start


# ---------------------------------------------------------------------------
# declared metrics
# ---------------------------------------------------------------------------


def test_benchmark_json_matches_the_code():
    doc = _declared()
    assert {w["name"] for w in doc["workloads"]} <= set(workloads.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in doc["end_to_end"]] == list(workloads.END_TO_END)
    assert [(m["name"], m["unit"]) for m in doc["per_layer"]] == list(workloads.PER_LAYER)
    setup = next(m for m in doc["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in doc["end_to_end"])


# ---------------------------------------------------------------------------
# tiny runs
# ---------------------------------------------------------------------------


def _run(cwd, *args, timeout=600):
    return subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
@pytest.mark.parametrize("trace", ["0", "1"])
def test_tiny_run_prints_every_metric_with_its_unit(workload, trace, tmp_path):
    before = _scratch_dirs()
    proc = _run(
        str(tmp_path), "--workload", workload, "--seed", "1", "--seconds", "0.5",
        "--trace", trace, "--scale", "0.05",
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = _declared()["per_layer" if trace == "1" else "end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in out["metrics"].items()
    }
    assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())
    if trace == "0":
        assert all(v["value"] > 0 for v in out["metrics"].values())
    assert _scratch_dirs() <= before  # the run removed its own


def _scratch_dirs() -> set[str]:
    return {p for p in os.listdir(ROOT) if p.startswith(".perfbench-")} - {".perfbench-spans"}


def test_fails_without_the_library(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "office_rag", "--seed", "1",
         "--seconds", "1"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
