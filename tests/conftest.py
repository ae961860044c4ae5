import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from unstructured_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="unstructured-spark-tests", shuffle_partitions=8)
    yield spark
    spark.stop()


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


_slow_deselected = []


def pytest_deselected(items):
    _slow_deselected.extend(i for i in items if i.get_closest_marker("slow"))


def pytest_terminal_summary(terminalreporter):
    """One line naming what the default ``-m "not slow"`` left out, so a
    green fast-tier run never reads as the full suite."""
    if not _slow_deselected:
        return
    files = {}
    for item in _slow_deselected:
        name = item.nodeid.split("::")[0]
        files[name] = files.get(name, 0) + 1
    listing = ", ".join(f"{f} ({n})" for f, n in sorted(files.items()))
    terminalreporter.write_line(
        f"slow tier: {len(_slow_deselected)} tests deselected by "
        f'-m "not slow" from {len(files)} file(s): {listing}'
    )
