#!/usr/bin/env python
"""Benchmark harness: times every registered query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] (default: the host's CPU count) and records
what each query ran, layer by layer.

Protocol: an untimed session warm-up (JVM, parquet footers, three
representative query shapes, the Python worker pool); then, per query,
one untimed warm-up run and $BENCH_ITERS (default 3) timed runs. A run
is end to end: the builder call (planning plus any job it runs
eagerly) and the sink (a noop write, or a full collect for the queries
in _COLLECT_FULL). A query's time is the median of its timed runs.
BENCH_ONLY=q_a,q_b restricts the run to the named queries.

Layer record: timed run i of query q builds under job group
``bench:<q>:build:<i>`` and sinks under ``bench:<q>:run:<i>``. After the
query's timed runs, outside the timed region,
perfbench.spans.collect_group_metrics reads those groups from Spark's
status store; a read takes longer the fuller the store is (up to about
a second), so it never runs inside a timing.

Output contract: BENCH_FULL.json, next to this script, holds the
summary and one row per query under "queries": "sec" (the median) and
"runs", one entry per timed run with build_jobs and build_ms (the
builder call alone) and jobs, exec_run_ms, exec_cpu_ms, python_gap_ms,
shuffle_bytes and failed_tasks (builder and sink together). The last
stdout line is one JSON object: the summary ("value" is the total of
the medians in seconds) and "queries", the slowest queries' seconds,
as many as keep the line within 1900 characters.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import time
from dataclasses import asdict

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from perfbench.spans import GroupMetrics, collect_group_metrics  # noqa: E402

# queries whose realistic consumption is a full driver-side collect
_COLLECT_FULL = {"q03_shipping_priority", "q_top_customers"}


def time_query(spark: SparkSession, sf_dir: str, name: str, fn, iters: int) -> dict:
    """One untimed warm-up run, then ``iters`` timed runs of the query
    ``fn``. Returns its row: the median seconds and each timed run's
    layer record."""
    sc = spark.sparkContext

    def run(i: int) -> tuple[float, float]:
        """Builds and sinks the query once under run ``i``'s job groups;
        returns (builder seconds, total seconds)."""
        sc.setJobGroup(f"bench:{name}:build:{i}", name)
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        sc.setJobGroup(f"bench:{name}:run:{i}", name)
        if name in _COLLECT_FULL:
            df.collect()
        else:
            # noop sink, not count(): count() lets Catalyst prune every
            # column the cardinality doesn't need, so a map-only query's
            # expression columns (regex gates, hashes) would be skipped
            df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        sc._jsc.clearJobGroup()
        return t1 - t0, t2 - t0

    run(0)  # warm-up: codegen compile, broadcast build
    timed = [run(i) for i in range(1, iters + 1)]
    metrics = collect_group_metrics(
        sc, {f"bench:{name}:{p}:{i}" for p in ("build", "run") for i in range(1, iters + 1)}
    )
    runs = []
    for i, (build_s, _) in enumerate(timed, 1):
        build = metrics.get(f"bench:{name}:build:{i}", GroupMetrics())
        sink = asdict(metrics.get(f"bench:{name}:run:{i}", GroupMetrics()))
        both = GroupMetrics(**{k: v + sink[k] for k, v in asdict(build).items()})
        runs.append({
            "build_jobs": build.jobs,
            "build_ms": round(build_s * 1e3, 1),
            "jobs": both.jobs,
            "exec_run_ms": round(both.exec_run_ms, 1),
            "exec_cpu_ms": round(both.exec_cpu_ms, 1),
            # run time is whole milliseconds per task and CPU time
            # nanoseconds, so a JVM-only run can read a fraction of a
            # millisecond per task below zero; no time was spent there
            "python_gap_ms": round(max(0.0, both.python_gap_ms), 1),
            "shuffle_bytes": both.shuffle_bytes,
            "failed_tasks": both.failed_tasks,
        })
    return {"sec": round(statistics.median(t for _, t in timed), 3), "runs": runs}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    spark = (
        SparkSession.builder.appName("unstructured-spark-bench")
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warm-up: JVM, parquet footer reads, codegen paths
    for t in ("lineitem", "documents", "embeddings"):
        entry_mod._t(spark, sf_dir, t).limit(1).collect()
    # process-level JIT warm-up: run three representative query shapes
    # (multi-join agg, window chain, text/array codegen) untimed so the
    # first timed queries don't absorb one-off JIT compilation of the
    # shuffle/join/window machinery. Per-query warm-up runs still
    # cover plan-specific codegen + broadcast builds.
    all_q = entry_mod.queries()
    for wname in ("q05_region_revenue", "q_events_moving_avg", "q_gopher_quality"):
        if wname in all_q:
            all_q[wname](spark, sf_dir).count()
    # Python-worker warm-up: pre-fork the worker pool and pay the
    # numpy/pandas import once per worker BEFORE any timed query —
    # otherwise the first mapInPandas query in registry order absorbs
    # the interpreter+import startup of every worker.
    import pandas as _pd

    def _warm(batches):
        import numpy  # noqa: F401 — worker-side import warm-up
        for b in batches:
            yield _pd.DataFrame({"n": [len(b)]})

    spark.range(0, 256, 1, 64).mapInPandas(_warm, "n long").count()

    iters = int(os.environ.get("BENCH_ITERS", "3"))
    only = os.environ.get("BENCH_ONLY")
    if only:
        wanted = {q.strip() for q in only.split(",") if q.strip()}
        all_q = {k: v for k, v in all_q.items() if k in wanted}
    rows: dict[str, dict] = {}
    for name, fn in all_q.items():
        rows[name] = time_query(spark, sf_dir, name, fn, iters)
        print(f"# {name}: {rows[name]['sec']:.3f}s median of {iters}", file=sys.stderr)
        # drop per-run DataFrame refs NOW: queries that localCheckpoint
        # (kmeans, dedup, bigram LM) leave checkpoint RDD blocks pinned
        # until Python GC releases the py4j handles — across the sweep
        # that accumulates into executor memory pressure that inflates
        # every later query. Collect + JVM ContextCleaner keeps the
        # session flat.
        gc.collect()

    record = {
        "metric": "headline_queries_total_wall_clock",
        "value": round(sum(r["sec"] for r in rows.values()), 3),
        "unit": "sec",
        "sf": sf,
        "cpus": int(cpus),
        "iters": iters,
        "n_queries": len(rows),
        "queries": rows,
    }
    # the full record always lands on disk — never truncated
    with open(os.path.join(REPO, "BENCH_FULL.json"), "w") as f:
        json.dump(record, f, separators=(",", ":"))

    # stdout line: the summary plus slowest-first seconds packed into a
    # 1900-char budget (a reader may keep only a ~2000-char tail)
    head = {k: v for k, v in record.items() if k != "queries"}
    head["full"] = "BENCH_FULL.json"
    shown: dict[str, float] = {}
    for name, row in sorted(rows.items(), key=lambda kv: -kv[1]["sec"]):
        trial = {**head, "queries": {**shown, name: row["sec"]}}
        if len(json.dumps(trial, separators=(",", ":"))) > 1900:
            break
        shown[name] = row["sec"]
    head["queries"] = shown
    print(json.dumps(head, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
