"""Run plumbing shared by the workloads: the Spark session a run uses,
a sampler of the run's peak resident memory, and the statistics the
metrics are reported with."""

from __future__ import annotations

import os
import statistics
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def local_cores(cap: int = 4) -> int:
    return max(1, min(cap, len(os.sched_getaffinity(0))))


def start_spark(tmp: str, cores: int):
    """A SparkSession from the library's own factory, with the run's
    scratch space kept inside ``tmp`` and the console progress bar off.

    The driver heap is capped at 1 GB, which the workloads' data fits
    many times over: with the factory's default of 8 GB the collector
    grows the heap lazily, and the JVM's resident size then differs
    between identical runs by more than any bound could allow.

    The repo root goes on PYTHONPATH before the JVM starts, so the
    Python workers it forks import the same ``unstructured_spark`` the
    driver does."""
    from unstructured_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit: a
    later ``start_spark`` then pays a full start again."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and all its descendants: here the
    Python driver, the driver JVM it launched, and the Python worker
    daemon and workers the JVM forked."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * PAGE
        except OSError:
            pass
        todo.extend(kids.get(pid, ()))
    return total


class PeakRss:
    """Samples the process tree's resident memory every ``interval``
    seconds on a background thread and keeps the peak."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(me))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0

