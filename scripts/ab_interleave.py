#!/usr/bin/env python
"""Same-session interleaved A/B timing for operator-level changes.

The host's CPU allocation drifts 2-10x on minutes-scale windows
(documented since r9), so absolute cross-run seconds are useless for
accept/reject decisions. This harness times arm A (old code) and arm B
(new code) ALTERNATELY inside one Spark session — ABAB..., one timed
noop-sink run per visit after a per-visit warm-up run — with an
untouched control query in every visit. Decisions use the B/A ratio of
per-arm medians, read against the control's drift.

Usage:
    python scripts/ab_interleave.py \
        --module unstructured_spark/operators/layout_merge.py \
        --a /tmp/layout_merge_A.py --b /tmp/layout_merge_B.py \
        --control q01_pricing_summary --pairs 3 q_layout_merge

The module file is swapped on disk and importlib.reload-ed between
visits (registered queries import operators inside their function
bodies, so the reloaded module object is picked up on the next query
construction). The file is restored to the B variant at exit.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--module", required=True, action="append",
        help="repo-relative module file to swap (repeatable; --a/--b "
             "must be given once per --module, in the same order)",
    )
    ap.add_argument("--a", required=True, action="append",
                    help="arm A (old) variant file")
    ap.add_argument("--b", required=True, action="append",
                    help="arm B (new) variant file")
    ap.add_argument("--control", default="q01_pricing_summary")
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument(
        "--fresh-workers", action="store_true",
        help="disable spark.python.worker.reuse: REQUIRED when the A/B "
             "touches module-level helpers called from worker-side "
             "closures (mapInPandas bodies resolve module globals "
             "against the worker's CACHED import of whichever arm ran "
             "first on that worker — r13 found arm-B tasks failing on "
             "a helper only arm B defines, i.e. earlier worker-side "
             "A/Bs could silently run both arms on one variant). "
             "Worker fork+import cost is paid per task, equally in "
             "both arms.")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    if not (len(args.module) == len(args.a) == len(args.b)):
        ap.error("--module/--a/--b counts must match")
    targets = [os.path.join(REPO, m) for m in args.module]
    mod_names = [m.replace("/", ".").removesuffix(".py") for m in args.module]

    # the workers import the repo's package (and the daemon get_spark
    # selects) whatever the working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    from unstructured_spark.session import get_spark

    import __spark_entry__ as entry_mod

    # the library's own session, so the arms run on the workers it runs
    spark = get_spark(
        app_name="ab-interleave",
        extra_conf={
            "spark.driver.memory": "16g",
            "spark.python.worker.reuse": "false" if args.fresh_workers else "true",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    registry = entry_mod.queries()

    # session warm-up mirroring bench.py: JIT + python-worker pool
    import pandas as _pd

    def _warm(batches):
        import numpy  # noqa: F401
        for b in batches:
            yield _pd.DataFrame({"n": [len(b)]})

    spark.range(0, 256, 1, 64).mapInPandas(_warm, "n long").count()
    for wname in ("q05_region_revenue", "q_events_moving_avg", "q_gopher_quality"):
        if wname in registry:
            registry[wname](spark, args.sf_dir).count()

    def swap(variant_files: list[str]) -> None:
        # refresh the registry after every swap: queries() returns
        # function objects bound at module-exec time, so swapping
        # __spark_entry__.py itself (entry-level changes) needs the
        # entry module reloaded and the registry rebuilt — otherwise
        # the captured dict keeps serving the pre-swap functions.
        # (importlib.reload mutates the module object in place, so
        # module-level `from ... import dedup` style references in the
        # entry see the swapped operator code either way.)
        #
        # MULTI-MODULE CAVEAT: non-entry modules reload in CLI order.
        # If swapped module A does `from B import f` on swapped module
        # B, A must be listed AFTER B or A keeps the pre-swap function
        # object for the whole arm. Belt-and-braces: reload the
        # non-entry modules TWICE (two passes), so cross-references
        # settle regardless of the order given.
        nonlocal registry
        for variant_file, target in zip(variant_files, targets):
            shutil.copyfile(variant_file, target)
        for _pass in range(2):
            for mod_name in mod_names:
                if mod_name != "__spark_entry__":
                    importlib.reload(importlib.import_module(mod_name))
        registry = importlib.reload(entry_mod).queries()

    def time_one(qname: str) -> float:
        # clear the cache before each run: a frame an operator leaves
        # cached would otherwise serve the next run of the same plan
        # (including the other arm's timed run) without computing it
        fn = registry[qname]
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(f"ab warmup {qname}")
        fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(f"ab timed {qname}")
        t0 = time.monotonic()
        fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.monotonic() - t0
        spark.sparkContext.setJobDescription(None)
        return dt

    samples: dict[str, dict[str, list[float]]] = {
        q: {"A": [], "B": []} for q in args.queries
    }
    control_by_arm: dict[str, list[float]] = {"A": [], "B": []}
    try:
        for pair in range(args.pairs):
            for arm, variants in (("A", args.a), ("B", args.b)):
                swap(variants)
                load1 = os.getloadavg()[0]
                for q in args.queries:
                    dt = time_one(q)
                    samples[q][arm].append(dt)
                    print(f"pair {pair} arm {arm} {q}: {dt:.3f}s load1={load1:.1f}", flush=True)
                cdt = time_one(args.control)
                control_by_arm[arm].append(cdt)
                print(f"pair {pair} arm {arm} CONTROL {args.control}: {cdt:.3f}s", flush=True)
    finally:
        for variant_file, target in zip(args.b, targets):
            shutil.copyfile(variant_file, target)

    out = {"queries": {}, "control": {}}
    for q in args.queries:
        ma = statistics.median(samples[q]["A"])
        mb = statistics.median(samples[q]["B"])
        out["queries"][q] = {
            "A": samples[q]["A"], "B": samples[q]["B"],
            "medA": round(ma, 3), "medB": round(mb, 3),
            "ratio_BA": round(mb / ma, 3) if ma else None,
        }
    ca = statistics.median(control_by_arm["A"])
    cb = statistics.median(control_by_arm["B"])
    out["control"] = {
        "A": control_by_arm["A"], "B": control_by_arm["B"],
        "medA": round(ca, 3), "medB": round(cb, 3),
        "ratio_BA": round(cb / ca, 3) if ca else None,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
