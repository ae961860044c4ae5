"""Local replica of the driver's t2 correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB over the
same parquet tables, compare row count, column names, and an
order-insensitive value hash.
"""

from __future__ import annotations

import hashlib
import math

import duckdb
import pytest

import __spark_entry__ as entry_mod
from tests.conftest import SF_DIR

TABLES = entry_mod.TABLES


def _duck(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"create view {t} as select * from '{sf_dir}/{t}.parquet'"
        )
    return con


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # normalize -0.0 and represent with fixed precision
        if v == 0:
            v = 0.0
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _value_hash(rows, colnames) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted(
        "\x01".join(_norm_cell(r[i]) for i in order) for r in rows
    )
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


QUERY_NAMES = sorted(entry_mod.queries().keys())


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, name):
    q = entry_mod.queries()[name]
    oracles = entry_mod.oracle_sql()
    sdf = q(spark, SF_DIR)
    scols = sdf.columns
    bad_types = [
        (f.name, f.dataType.simpleString())
        for f in sdf.schema.fields
        if f.dataType.simpleString()
        not in {"string", "bigint", "int", "double", "boolean",
                "date", "timestamp"}
    ]
    assert not bad_types, (
        f"{name} emits wire-unsafe Spark output types (arrays/structs "
        f"break the driver row-hash, float narrows): {bad_types}"
    )
    srows = [tuple(r) for r in sdf.collect()]
    if name not in oracles:
        # rows-only contract: must run and have a stable schema
        assert scols, f"{name} produced no columns"
        return
    con = _duck(SF_DIR)
    drel = con.sql(oracles[name])
    dcols = [d[0] for d in drel.description]
    # fetch over ARROW, not .fetchall(): the external driver pulls
    # oracle rows through an arrow wire, so the local gate must see
    # the same representations (r5-r8 lesson: .fetchall() yields exact
    # Python ints that MASKED the HUGEINT->decimal narrowing; a
    # full-registry arrow wire-sim in r10 confirmed 0 mismatches under
    # this fetch while a pandas fetch would flip nullable-bigint rows)
    drows = [
        tuple(row.values()) for row in drel.fetch_arrow_table().to_pylist()
    ]
    assert sorted(scols) == sorted(dcols), f"{name} column mismatch: {scols} vs {dcols}"
    assert len(srows) == len(drows), f"{name} row count {len(srows)} vs {len(drows)}"
    # align spark row order of columns to oracle's by name
    sidx = {c: i for i, c in enumerate(scols)}
    srows_aligned = [tuple(r[sidx[c]] for c in dcols) for r in srows]
    sh = _value_hash(srows_aligned, dcols)
    dh = _value_hash(drows, dcols)
    if sh != dh:
        sset = sorted("\x01".join(map(_norm_cell, r)) for r in srows_aligned)
        dset = sorted("\x01".join(map(_norm_cell, r)) for r in drows)
        diff = [
            (a, b) for a, b in zip(sset, dset) if a != b
        ][:5]
        pytest.fail(f"{name} value hash mismatch; first diffs: {diff}")


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns


def test_registry_consistency():
    """Every oracle key maps to a registered query, and every query has
    an oracle — the last two rows-only entries (difflib table eval,
    iterative box merge) graduated to closed-form-fixture hash oracles
    in round 8."""
    q = set(entry_mod.queries())
    o = set(entry_mod.oracle_sql())
    assert o <= q, f"oracles without queries: {sorted(o - q)}"
    assert q - o == set(), f"unexpected rows-only queries: {sorted(q - o)}"


def test_doc_counts_match_registry():
    """COVERAGE.md / README.md state the registered-query count in
    prose; those numbers drifted twice (r10 verdict: '126' and '132'
    against a 135-entry registry). Pin every '<N> registered quer...'
    claim in both docs to len(queries()) so the docs can't drift."""
    import os
    import re

    n = len(entry_mod.queries())
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    claims = []
    for doc in ("COVERAGE.md", "README.md"):
        text = open(os.path.join(repo, doc)).read()
        for m in re.finditer(r"(\d+) registered quer", text):
            claims.append((doc, int(m.group(1))))
    assert claims, "expected at least one registered-query count claim"
    for doc, k in claims:
        assert k == n, f"{doc} claims {k} registered queries, registry has {n}"
