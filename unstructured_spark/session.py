"""SparkSession factory with scale-appropriate defaults.

Defaults are tuned so the same code runs on ``local[N]`` (N from
``SPARK_GRAFT_CPUS``, default one per core) for tests and on a
multi-executor cluster unchanged: AQE on (runtime shuffle re-planning,
skew-join splitting), Arrow on (vectorized pandas-UDF transfer), UTC
session timezone (determinism vs oracle engines), and a shuffle
partition count that AQE coalesces downward when partitions are small.

Python workers start from :data:`DAEMON_MODULE` when the guards in
:func:`daemon_fallback` pass, so no task re-reads Spark's zip archives.
"""

from __future__ import annotations

import glob
import importlib.machinery
import os
import re
import site

from pyspark import SparkContext
from pyspark.sql import SparkSession

DAEMON_MODULE = "unstructured_spark.worker_daemon"
# the directory a worker has to import DAEMON_MODULE from
_ROOT = os.path.dirname(os.path.dirname(os.path.realpath(__file__)))


def daemon_fallback(
    installed: str | None, spark_version: str | None, worker_path: list[str]
) -> str | None:
    """Why Python workers keep the default ``pyspark.daemon``, or None
    when they can start from :data:`DAEMON_MODULE`.

    ``installed`` is the version of the pyspark a worker imports once
    Spark's archives are off its path, ``spark_version`` that of the
    Spark the launcher runs, and ``worker_path`` the worker's
    ``sys.path`` before its first task. The package must sit in a
    directory there: a ``--py-files`` zip is added per task, after the
    daemon has started."""
    if installed is None or installed != spark_version:
        return f"version mismatch (pyspark {installed}, Spark {spark_version})"
    if _ROOT not in (p for p in worker_path if not p.endswith((".zip", ".jar"))):
        return "module not importable"
    return None


def _worker_path() -> list[str]:
    # a worker inherits the JVM's working directory, which ``python -m``
    # puts first on its path, and the JVM's PYTHONPATH; before the JVM
    # starts, both are this process's
    jvm = SparkContext._jvm
    sysprop = jvm.java.lang.System if jvm is not None else None
    cwd = sysprop.getProperty("user.dir") if sysprop else os.getcwd()
    env = (sysprop.getenv("PYTHONPATH") if sysprop else os.environ.get("PYTHONPATH")) or ""
    dirs = [] if os.environ.get("PYTHONSAFEPATH") else [cwd]
    dirs += env.split(os.pathsep) + site.getsitepackages()
    if site.ENABLE_USER_SITE:
        dirs.append(site.getusersitepackages())
    return [os.path.realpath(p) for p in dirs if p and os.path.isdir(p)]


def _installed_pyspark(worker_path: list[str]) -> str | None:
    spec = importlib.machinery.PathFinder.find_spec("pyspark", worker_path)
    if spec is None or spec.origin is None:
        return None
    try:
        with open(os.path.join(os.path.dirname(spec.origin), "version.py")) as fh:
            m = re.search(r"__version__[^=]*=\s*['\"]([^'\"]+)", fh.read())
    except OSError:
        return None
    return m and m.group(1)


def _launcher_spark() -> str | None:
    import pyspark

    home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    jars = glob.glob(os.path.join(home, "jars", "spark-core_*.jar"))
    m = len(jars) == 1 and re.fullmatch(r"spark-core_[^-]+-(.+)\.jar", os.path.basename(jars[0]))
    return m.group(1) if m else None


def _fallback() -> str | None:
    path = _worker_path()
    return daemon_fallback(_installed_pyspark(path), _launcher_spark(), path)


def worker_daemon() -> str:
    """The daemon the active session's Python workers start from, or,
    with no active session, the one :func:`get_spark` would select."""
    sc = SparkContext._active_spark_context
    if sc is None or sc.getConf().get("spark.python.daemon.module") != DAEMON_MODULE:
        reason = _fallback() or (sc is not None and "existing session")
        if reason:
            return f"default pyspark.daemon: {reason}"
    return f"zip-free daemon ({DAEMON_MODULE})"


def get_spark(
    app_name: str = "unstructured-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or int(cpus)))
        # documents can be large binary blobs; keep Arrow batches bounded
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # an active session keeps the daemon it started with
    if SparkContext._active_spark_context is None and _fallback() is None:
        builder = builder.config("spark.python.daemon.module", DAEMON_MODULE)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
