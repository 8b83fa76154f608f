"""Local replica of the driver's correctness gate: run every registered
query on Spark AND its oracle SQL on DuckDB over the same parquet, compare
row count, column names, and order-insensitive values.

Runs at sf0.001 for speed (the driver uses sf0.01); set
SPARK_GRAFT_TEST_SF_DIR to change.
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from cstore_fdw_spark.datasets import TABLES
from cstore_fdw_spark.operators import load_all

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

REGISTRY = load_all()
ORACLE_CASES = sorted(n for n, s in REGISTRY.items() if s.oracle)
NO_ORACLE_CASES = sorted(n for n, s in REGISTRY.items() if not s.oracle)


@pytest.fixture(scope="module")
def duck():
    conn = duckdb.connect()
    for t in TABLES:
        conn.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                 f"'{SF_DIR}/{t}.parquet'")
    yield conn
    conn.close()


def canon(value):
    """Canonicalize a cell for order-insensitive comparison."""
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        return value
    if isinstance(value, list):
        return tuple(canon(v) for v in value)
    if isinstance(value, dict):
        return tuple(sorted((k, canon(v)) for k, v in value.items()))
    if hasattr(value, "asDict"):  # Row (struct)
        return tuple(sorted((k, canon(v)) for k, v in value.asDict().items()))
    return value


def rows_multiset(cols, rows):
    return sorted(
        (tuple(canon(v) for v in row) for row in rows),
        key=lambda r: tuple(str(x) for x in r))


#: duckdb type name → normalized; spark simpleString → normalized
_DUCK_TYPES = {"BIGINT": "bigint", "INTEGER": "int", "DOUBLE": "double",
               "FLOAT": "float", "VARCHAR": "string", "BOOLEAN": "boolean",
               "TIMESTAMP": "timestamp", "DATE": "date", "SMALLINT": "smallint",
               "HUGEINT": "bigint", "UBIGINT": "bigint"}
_SPARK_TYPES = {"timestamp_ntz": "timestamp"}


def _norm_duck(t: str) -> str:
    return _DUCK_TYPES.get(str(t), str(t).lower())


def _norm_spark(t: str) -> str:
    return _SPARK_TYPES.get(t, t)


@pytest.mark.parametrize("name", ORACLE_CASES)
def test_matches_oracle(spark, duck, name):
    spec = REGISTRY[name]
    sdf = spec.builder(spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    dres = duck.sql(spec.oracle)
    dcols = dres.columns
    drows = dres.fetchall()

    assert [c.lower() for c in scols] == [c.lower() for c in dcols], \
        f"{name}: column mismatch spark={scols} duck={dcols}"
    stypes = [_norm_spark(t) for _c, t in sdf.dtypes]
    dtypes = [_norm_duck(t) for t in dres.types]
    assert stypes == dtypes, \
        f"{name}: dtype mismatch spark={stypes} duck={dtypes}"
    assert len(srows) == len(drows), \
        f"{name}: row count spark={len(srows)} duck={len(drows)}"
    sm, dm = rows_multiset(scols, srows), rows_multiset(dcols, drows)
    mismatches = [(a, b) for a, b in zip(sm, dm) if a != b]
    assert not mismatches, \
        f"{name}: {len(mismatches)} differing rows; first: {mismatches[0]}"


def test_every_query_has_oracle():
    """Every registered query carries a DuckDB oracle, so
    test_matches_oracle checks all of them; a query registered without
    one fails here by name."""
    assert not NO_ORACLE_CASES, \
        f"queries registered without an oracle: {NO_ORACLE_CASES}"
