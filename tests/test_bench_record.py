"""bench.py's per-query record: every layer field of every timed run,
read from the status store through perfbench's collector."""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entry_mod
import bench
from tests.conftest import SF_DIR

LAYER_FIELDS = (
    "build_jobs", "build_ms", "jobs", "exec_run_ms", "exec_cpu_ms",
    "python_gap_ms", "shuffle_bytes", "failed_tasks",
)
FULL = os.path.join(os.path.dirname(os.path.abspath(bench.__file__)), "BENCH_FULL.json")
# a scan + aggregate, a collect sink, and a builder that runs jobs
# eagerly (input checkpoint, connected-components rounds); the first and
# the last each read one table
NAMES = ("q_token_freq", "q03_shipping_priority", "q_drop_near_duplicates")


def _stat(path):
    return os.stat(path).st_mtime_ns if os.path.exists(path) else None


@pytest.fixture(scope="module")
def rows(spark):
    before = _stat(FULL)
    out = {n: bench.time_query(spark, SF_DIR, n, entry_mod.queries()[n], iters=1) for n in NAMES}
    assert _stat(FULL) == before
    return out


@pytest.mark.parametrize("name", NAMES)
def test_every_layer_field(rows, name):
    row = rows[name]
    assert row["sec"] > 0
    (run,) = row["runs"]
    assert set(run) == set(LAYER_FIELDS)
    for field in LAYER_FIELDS:
        assert run[field] >= 0, (field, run)
    gap = run["exec_run_ms"] - run["exec_cpu_ms"]
    assert run["python_gap_ms"] == pytest.approx(max(0.0, gap), abs=0.2)
    assert run["jobs"] >= 1
    assert run["jobs"] >= run["build_jobs"]


def test_eager_builder_jobs_count_as_build_jobs(rows):
    # reading a parquet table runs a schema job while the query is
    # built, so every builder has build jobs; the near-dup builder's
    # checkpoint and connected-components rounds come on top of its read
    (plain,) = rows["q_token_freq"]["runs"]
    (eager,) = rows["q_drop_near_duplicates"]["runs"]
    assert eager["build_jobs"] > plain["build_jobs"] > 0
