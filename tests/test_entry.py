"""Query entry points of ``__spark_entry__.py``: the flagship rows are
pinned, its DuckDB oracle agrees with Spark on them, every flagship the
driver re-checks is registered, and no oracle emits a type the driver's
hash cannot match.  Values across the registry are compared against
DuckDB by ``tools/check_oracles.py``."""

from __future__ import annotations

import hashlib
import importlib.util
import os

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# sha256 over entry(spark).collect() in order, one repr-joined line per row.
ENTRY_ROWS_SHA256 = "d4c524da8af4681a72968601039b0575f9c4d2f8113a2fb8eb547af3b29af859"


def _load(name: str, relpath: str):
    spec = importlib.util.spec_from_file_location(name, os.path.join(REPO, relpath))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def contract():
    return _load("__spark_entry__", "__spark_entry__.py")


def _rows_sha256(rows) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(("\x1f".join(repr(v) for v in r) + "\n").encode())
    return h.hexdigest()


def test_entry_rows_are_pinned(spark, contract):
    df = contract.entry(spark)
    assert df.columns == ["mention_a", "mention_b", "n_docs"]
    rows = df.collect()
    assert len(rows) == 10
    assert _rows_sha256(rows) == ENTRY_ROWS_SHA256


def test_oracle_sql_matches_spark(spark, contract):
    assert "kg_cooccurrence" in contract.oracle_sql()
    assert set(contract.oracle_sql()) <= set(contract.queries())
    # every query has an oracle: none is left to a rows-only check
    assert len(contract.oracle_sql()) == len(contract.queries())

    sdf = contract.entry(spark)
    # the oracle reads the very parquet files the Spark plan scans
    files = [f.removeprefix("file:") for f in sdf.inputFiles()]
    assert files
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet({files!r})")
    cur = con.execute(contract.oracle_sql()["kg_cooccurrence"])
    ocols = [d[0] for d in cur.description]
    orows = cur.fetchall()
    con.close()

    # the oracle tool's order-insensitive row form
    norm_rows = _load("check_oracles", "tools/check_oracles.py").norm_rows
    scols, srows = norm_rows(sdf.columns, [tuple(r) for r in sdf.collect()])
    assert (scols, srows) == norm_rows(ocols, orows)
    assert len(srows) > 0


def test_flagship_rechecks_are_registered(contract):
    """``_rotated_names`` skips a flagship missing from the registry, so a
    deletion would shrink the driver's re-check without this test."""
    assert set(contract._FLAGSHIP_RECHECK) <= set(contract.REGISTRY)


def test_driver_window_oracles_emit_no_hugeint(contract):
    """DuckDB's HUGEINT (Arrow decimal128(38,0)) never hashes equal to
    Spark's int64.  The driver hashes a window of ``queries()`` that moves
    whenever an entry is deleted, so every oracle is checked, not only the
    current window.  DESCRIBE binds each oracle without running it."""
    hugeint = {}
    with _load("check_oracles", "tools/check_oracles.py").duckdb_views() as con:
        for name, sql in contract.oracle_sql().items():
            cols = con.execute(f"DESCRIBE {sql}").fetchall()
            hugeint[name] = [c[0] for c in cols if "HUGEINT" in c[1]]
    assert hugeint
    assert {n: c for n, c in hugeint.items() if c} == {}
