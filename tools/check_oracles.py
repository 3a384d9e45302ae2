"""Local mirror of the driver's correctness harness: run every registry
query on Spark and its oracle on DuckDB at sf0.01, compare row count,
column names, order-insensitive values and column type families.

The type check compares Spark's ``toArrow()`` schema with the DuckDB
result's Arrow schema, folded the way the driver's hash folds them:
integer widths are one family, and so are timestamp units and zones
(and the large and small string, binary and list layouts).  Any other
difference fails, e.g. DuckDB's HUGEINT (Arrow decimal128(38,0)) against
Spark's int64.  Neither schema needs a second run of the query.

DuckDB runs under ``DUCKDB_MEMORY_LIMIT``, so an oracle that needs more
memory fails with DuckDB's own error instead of growing without bound.

Usage: python tools/check_oracles.py [name ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pyarrow as pa

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)
DUCKDB_MEMORY_LIMIT = "3GB"


def duckdb_views() -> duckdb.DuckDBPyConnection:
    """A memory-capped DuckDB connection with one view per sf0.01 table."""
    con = duckdb.connect(config={"memory_limit": DUCKDB_MEMORY_LIMIT})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}"
    return str(v)


def norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in idx) for r in rows]
    out.sort()
    return [cols[i] for i in idx], out


def type_family(t: pa.DataType):
    """``t`` with the distinctions the driver's hash ignores folded away."""
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return ("list", type_family(t.value_type))
    if pa.types.is_map(t):
        return ("map", type_family(t.key_type), type_family(t.item_type))
    if pa.types.is_struct(t):
        return ("struct", tuple((f.name, type_family(f.type)) for f in t))
    return str(t)


def type_mismatches(spark_schema: pa.Schema, duck_schema: pa.Schema) -> list[str]:
    """Columns whose type families differ, as ``name: spark vs duckdb``."""
    duck = {f.name: f.type for f in duck_schema}
    return [
        f"{f.name}: {f.type} vs {duck[f.name]}"
        for f in spark_schema
        if type_family(f.type) != type_family(duck[f.name])
    ]


def spark_arrow_schema(sdf) -> pa.Schema:
    """The schema ``sdf.toArrow()`` returns, without running ``sdf`` (up to
    the large/small layouts, which ``type_family`` folds)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(sdf.schema)


def duckdb_arrow_schema(con, rel) -> pa.Schema:
    """The Arrow schema of relation ``rel``'s result, from its bound types:
    an empty, typed select, so the query itself does not run again."""
    cols = ", ".join(
        f'CAST(NULL AS {t}) AS "{c.replace(chr(34), chr(34) * 2)}"'
        for c, t in zip(rel.columns, rel.types)
    )
    return con.execute(f"SELECT {cols} LIMIT 0").arrow().schema


def main() -> int:
    from stixtoneodb_spark.operators.registry import REGISTRY
    from stixtoneodb_spark.session import get_spark

    only = set(sys.argv[1:])
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb_views()

    n_fail = 0
    for name, (fn, sql) in REGISTRY.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: spark error {str(ex)[:200]}")
            n_fail += 1
            continue
        try:
            rel = con.sql(sql)
            ocols = rel.columns
            orows = rel.fetchall()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error {str(ex)[:200]}")
            n_fail += 1
            continue
        sc, sr = norm_rows(scols, srows)
        oc, orr = norm_rows(ocols, orows)
        if sc != oc:
            print(f"FAIL {name}: columns {sc} vs {oc}")
            n_fail += 1
            continue
        if len(sr) != len(orr):
            print(f"FAIL {name}: rowcount {len(sr)} vs {len(orr)}")
            n_fail += 1
            continue
        if sr != orr:
            diffs = [i for i, (a, b) in enumerate(zip(sr, orr)) if a != b]
            print(f"FAIL {name}: {len(diffs)} differing rows; first: {sr[diffs[0]]} vs {orr[diffs[0]]}")
            n_fail += 1
            continue
        bad = type_mismatches(spark_arrow_schema(sdf), duckdb_arrow_schema(con, rel))
        if bad:
            print(f"FAIL {name}: type families differ: {'; '.join(bad)}")
            n_fail += 1
            continue
        print(f"ok   {name}: {len(sr)} rows match, type families match")
    return n_fail


if __name__ == "__main__":
    raise SystemExit(main())
