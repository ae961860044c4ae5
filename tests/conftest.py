import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.fixtures import REFERENCE  # noqa: E402
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


def _by_file(nodeids):
    files = {}
    for nodeid in nodeids:
        name = nodeid.split("::")[0]
        files[name] = files.get(name, 0) + 1
    return files, ", ".join(f"{f} ({n})" for f, n in sorted(files.items()))


def pytest_terminal_summary(terminalreporter):
    """One line naming what the default ``-m "not slow"`` left out, and
    one naming the tests skipped because a file of the upstream checkout
    (``tests.fixtures.REFERENCE``) is absent, so a green run never reads
    as the full suite."""
    if _slow_deselected:
        files, listing = _by_file(i.nodeid for i in _slow_deselected)
        terminalreporter.write_line(
            f"slow tier: {len(_slow_deselected)} tests deselected by "
            f'-m "not slow" from {len(files)} file(s): {listing}'
        )
    needs = f"Skipped: needs {REFERENCE}"
    held = [
        r.nodeid
        for r in terminalreporter.stats.get("skipped", [])
        if isinstance(r.longrepr, tuple) and r.longrepr[2].startswith(needs)
    ]
    if held:
        files, listing = _by_file(held)
        terminalreporter.write_line(
            f"reference files: {len(held)} tests skipped, their {REFERENCE} "
            f"input absent, from {len(files)} file(s): {listing}"
        )
