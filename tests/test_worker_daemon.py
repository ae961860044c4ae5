"""The Python-worker daemon ``get_spark`` selects: the guard that keeps
PySpark's default daemon, what the workers import under the zip-free
one, and the ``doctor`` line that names the active path."""

import os
import subprocess
import sys
import textwrap

from pyspark import SparkContext

from unstructured_spark import doctor, session
from unstructured_spark.session import DAEMON_MODULE, daemon_fallback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class TestGuard:
    def test_versions_match_and_module_on_path(self):
        assert daemon_fallback("4.1.2", "4.1.2", ["/srv/other", session._ROOT]) is None

    def test_version_mismatch(self):
        assert daemon_fallback("4.1.2", "4.0.1", [session._ROOT]) == (
            "version mismatch (pyspark 4.1.2, Spark 4.0.1)"
        )

    def test_unknown_version_is_a_mismatch(self):
        assert daemon_fallback(None, "4.1.2", [session._ROOT]).startswith("version mismatch")
        assert daemon_fallback("4.1.2", None, [session._ROOT]).startswith("version mismatch")

    def test_module_not_importable(self):
        assert daemon_fallback("4.1.2", "4.1.2", ["/srv/other"]) == "module not importable"

    def test_archive_on_path_does_not_count(self):
        # a --py-files zip reaches the worker per task, after the daemon starts
        shipped = [os.path.join(session._ROOT, "deps.zip"), session._ROOT + ".zip"]
        assert daemon_fallback("4.1.2", "4.1.2", shipped) == "module not importable"


def _selected(spark) -> bool:
    return spark.sparkContext.getConf().get("spark.python.daemon.module") == DAEMON_MODULE


class TestSession:
    def test_workers_import_installed_pyspark(self, spark):
        assert _selected(spark), session.worker_daemon()

        def probe(batches):
            import pandas as pd
            import pyspark

            archives = [p for p in sys.path if p.endswith((".zip", ".jar")) and os.path.exists(p)]
            for _ in batches:
                yield pd.DataFrame({"file": [pyspark.__file__], "archives": [len(archives)]})

        rows = spark.range(0, 4, 1, 4).mapInPandas(probe, "file string, archives int").collect()
        assert len(rows) == 4
        for r in rows:
            assert ".zip" not in r["file"] and r["archives"] == 0, r

    def test_doctor_names_active_daemon(self, spark):
        lines = [ln for ln in doctor.build_report().splitlines() if ln.startswith("python workers:")]
        want = f"zip-free daemon ({DAEMON_MODULE})" if _selected(spark) else "default pyspark.daemon: "
        assert len(lines) == 1 and lines[0].startswith(f"python workers: {want}")

    def test_doctor_names_fallback_reason(self, monkeypatch):
        monkeypatch.setattr(SparkContext, "_active_spark_context", None)
        monkeypatch.setattr(session, "_fallback", lambda: "module not importable")
        assert "python workers: default pyspark.daemon: module not importable" in (
            doctor.build_report().splitlines()
        )


def test_identity_map_runs_on_default_daemon(tmp_path):
    """With the package off the worker path (another working directory,
    no PYTHONPATH), get_spark keeps pyspark.daemon and Python tasks run."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from unstructured_spark.session import get_spark, worker_daemon

        print(worker_daemon())
        spark = get_spark(master="local[2]", extra_conf={{
            "spark.driver.memory": "512m", "spark.ui.showConsoleProgress": "false",
        }})
        print(worker_daemon())

        def identity(batches):
            yield from batches

        print(spark.range(0, 100, 1, 3).mapInPandas(identity, "id long").count())
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.splitlines()[-3:] == [
        "default pyspark.daemon: module not importable",
        "default pyspark.daemon: module not importable",
        "100",
    ]
