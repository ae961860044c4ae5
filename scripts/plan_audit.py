#!/usr/bin/env python
"""Generate PLAN_AUDIT.md: physical-operator census for every
registered query.

For each `queries()` entry the executed physical plan (after
EnsureRequirements inserts the exchanges — `sparkPlan` would show a
shuffle-free fiction) is scanned for the operators that decide 100 TB
behavior:

- Exchange (hash / range / single-partition) — every shuffle;
- Sort — global sorts are scale hazards unless the input is bounded;
- join strategies (broadcast-hash vs sort-merge vs broadcast-NL);
- Python boundaries (ArrowEvalPython / MapInPandas /
  FlatMapGroupsInPandas) — Arrow-batched only; row-at-a-time
  BatchEvalPython must NEVER appear;
- CartesianProduct — must never appear (also pinned by
  tests/test_plan_shapes.py).

The output table makes the repo's scale contract reviewable at a
glance: which queries shuffle how often, which stay map-only, where
the deliberate single-partition exchanges live (each one k-bounded or
grid-bounded by construction, see SCALING.md).
"""

from __future__ import annotations

import importlib.util
import os
import re
import sys
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

PATTERNS = {
    "xch_hash": re.compile(r"Exchange hashpartitioning"),
    "xch_range": re.compile(r"Exchange rangepartitioning"),
    "xch_single": re.compile(r"Exchange SinglePartition"),
    # storage.spread, the small-input rebalance: present ONLY at
    # small-fixture split counts — at real scan parallelism it is an
    # identity and no such exchange enters the plan
    "xch_rr": re.compile(r"Exchange RoundRobinPartitioning"),
    # 'Sort [' matches both bare and codegen-annotated ('*(2) Sort [')
    # plan lines without catching SortMergeJoin/SortAggregate
    "sort": re.compile(r"\bSort \["),
    "bhj": re.compile(r"BroadcastHashJoin"),
    "smj": re.compile(r"SortMergeJoin"),
    "bnlj": re.compile(r"BroadcastNestedLoopJoin"),
    "arrow_py": re.compile(r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas"),
    "row_py": re.compile(r"BatchEvalPython"),
    "cartesian": re.compile(r"CartesianProduct"),
}


def main() -> None:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("plan-audit")
        .master("local[8]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", "8")
        # pinned off so executedPlan is the concrete operator tree the
        # counters scan, not an AdaptiveSparkPlan wrapper whose
        # rendering depends on session defaults
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    spec = importlib.util.spec_from_file_location(
        "spark_entry_planaudit", os.path.join(REPO, "__spark_entry__.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)

    rows = []
    totals: Counter = Counter()
    for name, q in m.queries().items():
        plan = q(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        c = {k: len(p.findall(plan)) for k, p in PATTERNS.items()}
        c["xch_total"] = (
            c["xch_hash"] + c["xch_range"] + c["xch_single"] + c["xch_rr"]
        )
        rows.append((name, c))
        totals.update(c)
        print(
            f"# {name}: xch={c['xch_total']} sort={c['sort']} "
            f"bhj={c['bhj']} smj={c['smj']} bnlj={c['bnlj']} "
            f"py={c['arrow_py']}",
            file=sys.stderr,
        )

    map_only = sum(1 for _, c in rows if c["xch_total"] == 0)
    lines = [
        "# PLAN_AUDIT — physical-operator census, all registered queries",
        "",
        f"Generated by `scripts/plan_audit.py` at `{SF_DIR}` (plan shapes",
        "are data-size-independent). Executed physical plans without AQE;",
        "at runtime AQE may further coalesce partitions or switch",
        "SMJ->BHJ, never the reverse.",
        "",
        f"- queries audited: **{len(rows)}**",
        f"- map-only plans (zero exchanges): **{map_only}**",
        f"- total shuffles across the registry: **{totals['xch_total']}**"
        f" (hash {totals['xch_hash']}, range {totals['xch_range']},"
        f" single-partition {totals['xch_single']},"
        f" round-robin {totals['xch_rr']})",
        "- round-robin exchanges are `storage.spread`, the small-input",
        "  rebalance: it repartitions only when the plan's partition",
        "  count is known and below defaultParallelism, so at real corpus",
        "  widths it is an identity and this count is 0 (pinned by",
        "  tests/test_scan_spread.py).",
        f"- row-at-a-time Python (`BatchEvalPython`): **{totals['row_py']}**"
        " (must be 0)",
        f"- `CartesianProduct`: **{totals['cartesian']}** (must be 0;"
        " also pinned by tests/test_plan_shapes.py)",
        f"- Arrow-batched Python boundaries: {totals['arrow_py']}"
        " (parsers/chunkers/table-eval + the vocab-bounded BPE"
        " encoder in q_bpe_fertility — see SCALING.md"
        " 'Python boundary policy')",
        "",
        "Single-partition exchanges are each bounded by construction —",
        "scalar-aggregate reductions (a threshold/summary collapsed to",
        "one row, e.g. the TPC-H avg-balance subqueries and the",
        "eval/funnel summaries) or block-totals steps over a bounded",
        "block table (sequence packing, perplexity histogram, both",
        "<= a few hundred rows by the documented grid). Queries carrying",
        "one: "
        + ", ".join(
            sorted(n for n, c in rows if c["xch_single"] > 0)
        )
        + ".",
        "Bounds and levers are documented per operator in SCALING.md",
        "'Known limits'.",
        "",
        "| query | shuffles | hash | range | single | rr | sorts | BHJ | SMJ | BNLJ | py |",
        "|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    for name, c in sorted(rows, key=lambda r: (-r[1]["xch_total"], r[0])):
        lines.append(
            f"| {name} | {c['xch_total']} | {c['xch_hash']} | {c['xch_range']} "
            f"| {c['xch_single']} | {c['xch_rr']} | {c['sort']} | {c['bhj']} "
            f"| {c['smj']} | {c['bnlj']} | {c['arrow_py']} |"
        )
    out = os.path.join(REPO, "PLAN_AUDIT.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}: {len(rows)} queries, {map_only} map-only")


if __name__ == "__main__":
    main()
