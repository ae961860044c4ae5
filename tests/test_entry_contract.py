"""An external runner loads ``__spark_entry__.py`` by file path, from
its own working directory, with only the repo on ``PYTHONPATH``. The
shim must find its ``entry_queries`` package that way and serve one
oracle per query, and the first 50 names must be the window tuple in
order."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
import importlib.util, json, sys
spec = importlib.util.spec_from_file_location("entry_under_test", sys.argv[1])
m = importlib.util.module_from_spec(spec)
spec.loader.exec_module(m)
q, o = m.queries(), m.oracle_sql()
print(json.dumps({
    "queries": list(q),
    "oracles": sorted(o),
    "empty_oracles": sorted(k for k, v in o.items() if not v.strip()),
    "window": list(m.WINDOW),
    "tables": list(m.TABLES),
    "contract": [callable(getattr(m, f)) for f in ("entry", "queries", "oracle_sql")],
}))
"""


def test_shim_loads_by_path_from_a_foreign_directory(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONPATH"] = REPO
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, os.path.join(REPO, "__spark_entry__.py")],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert len(got["queries"]) == 144
    assert len(set(got["queries"])) == 144
    assert sorted(got["queries"]) == got["oracles"]
    assert got["empty_oracles"] == []
    assert len(got["window"]) == 50
    assert got["queries"][:50] == got["window"]
    assert "documents" in got["tables"]
    assert got["contract"] == [True, True, True]
