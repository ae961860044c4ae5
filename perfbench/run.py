"""Document-ETL benchmark for unstructured_spark.

    python3 perfbench/run.py --workload office_rag --seed 1 --seconds 10 --trace 0

Builds the workload's inputs from ``--seed`` in a temporary directory
inside the checkout, sets up (library import, Spark session, untimed
passes over a warm-up corpus), measures closed-loop passes for
``--seconds`` seconds, checks every pass's output, and prints one JSON
object as the last line of standard output::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}

Workloads: ``office_rag`` and ``crawl_dedup``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer metrics from a
traced run and writes its spans as JSON lines under
``.perfbench-spans/``. Progress notes go to standard error.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: library modules each workload calls; importing them is part of set-up
IMPORTS = {
    "office_rag": (
        "pyspark.sql", "unstructured_spark.session", "unstructured_spark.pipelines",
        "unstructured_spark.sources.files", "unstructured_spark.operators.serde",
    ),
    "crawl_dedup": (
        "pyspark.sql", "unstructured_spark.session", "unstructured_spark.pipelines",
        "unstructured_spark.sources.warc", "unstructured_spark.operators.main_content",
        "unstructured_spark.operators.serde",
    ),
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(IMPORTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size relative to the defined workload (tests use less)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "unstructured_spark", "__init__.py")):
        print(f"perfbench: no unstructured_spark package next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    # the Python workers Spark forks inherit this from the JVM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # on SIGTERM, unwind so the session, its JVM and the scratch
    # directory are cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    tmp = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    try:
        import importlib

        for mod in IMPORTS[args.workload]:
            importlib.import_module(mod)
        import unstructured_spark

        if not os.path.abspath(unstructured_spark.__file__).startswith(ROOT + os.sep):
            print(f"perfbench: imported {unstructured_spark.__file__}, not the checkout's",
                  file=sys.stderr)
            return 2
        import_s = time.perf_counter() - T0

        import workloads

        ctx = workloads.Ctx(
            tmp=tmp, seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
            scale=args.scale, import_s=import_s,
        )
        wl = workloads.WORKLOADS[args.workload]()
        res = wl.run(ctx)
        declared = workloads.PER_LAYER if args.trace else workloads.END_TO_END
        for name, unit in declared:
            # a layer the workload never calls did no work on it
            res.metrics.setdefault(name, {"value": 0, "unit": unit})
        metrics = {name: res.metrics[name] for name, _ in declared}
        if args.trace:
            out = os.path.join(ROOT, ".perfbench-spans")
            os.makedirs(out, exist_ok=True)
            wl.tracer.dump(os.path.join(out, f"{args.workload}-seed{args.seed}.jsonl"))
        for note in res.notes:
            print(f"perfbench[{args.workload}]: {note}", file=sys.stderr)
        print(json.dumps({
            "correct": res.failed == 0,
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": metrics,
        }), flush=True)
        return 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
