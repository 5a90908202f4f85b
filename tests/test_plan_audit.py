"""Physical-plan regression gate and oracle type check, over every row
of ``__spark_entry__.REGISTRY``.

Each query's DataFrame is built once, at analysis (no execution), and
checked for:

- its row's plan budget, where it has one (``Query.budget``: max
  shuffle exchanges, min broadcasts, max declared-Arrow Python nodes in
  the formatted physical plan, with the reason on the row);
- zero row-at-a-time Python (BatchEvalPython) and column-pruned scans;
- a type-exact oracle twin: DuckDB ``DESCRIBE`` of the row's oracle
  over the sf0.001 tables gives the same column names in the same order,
  and each Spark type maps to the DuckDB type through ``DUCKDB_TYPE``.
  The map has no DECIMAL or HUGEINT entry, so an oracle emitting one
  (DuckDB widens an un-CAST integer ``sum()`` to HUGEINT) fails.

A future edit that silently adds a shuffle, drops a broadcast,
introduces BatchEvalPython or lets an oracle drift in type fails here
instead of only showing up as a bench regression or a driver mismatch.
"""

import glob
import os
import sys

import duckdb
import pytest
from pyspark.sql.types import ArrayType

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
from tools.plan_audit import audit_plan  # noqa: E402

# Spark type -> DuckDB DESCRIBE type; array<t> is t[]
DUCKDB_TYPE = {
    "bigint": "BIGINT", "int": "INTEGER", "double": "DOUBLE",
    "string": "VARCHAR", "boolean": "BOOLEAN", "binary": "BLOB",
    "timestamp": "TIMESTAMP WITH TIME ZONE", "timestamp_ntz": "TIMESTAMP",
}
NAMES = sorted(E.REGISTRY)
BUDGETED = [name for name in NAMES if E.REGISTRY[name].budget]


def duckdb_type(t) -> str:
    if isinstance(t, ArrayType):
        return duckdb_type(t.elementType) + "[]"
    return DUCKDB_TYPE.get(t.simpleString(), f"unmapped {t.simpleString()}")


@pytest.fixture(scope="module")
def built(spark, sf_dir):
    """name -> (schema, plan audit), each query built once."""
    cache = {}

    def get(name):
        if name not in cache:
            df = E.REGISTRY[name].query(spark, sf_dir)
            cache[name] = df.schema, audit_plan(df)
        return cache[name]
    return get


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for path in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(path)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    yield con
    con.close()


@pytest.mark.parametrize("name", BUDGETED)
def test_plan_budget(built, name):
    max_exch, min_bcast, max_python = E.REGISTRY[name].budget
    a = built(name)[1]
    assert a["exchanges"] <= max_exch, \
        f"{name}: {a['exchanges']} shuffles (budget {max_exch})"
    assert a["broadcasts"] >= min_bcast, \
        f"{name}: lost broadcast ({a['broadcasts']} < {min_bcast})"
    assert a["python"] <= max_python, \
        f"{name}: {a['python']} Python nodes (budget {max_python})"


@pytest.mark.parametrize("name", NAMES)
def test_no_row_at_a_time_python(built, name):
    assert built(name)[1]["row_at_a_time_python"] == 0, \
        f"{name}: BatchEvalPython in plan (row-at-a-time Python UDF)"


@pytest.mark.parametrize("name", NAMES)
def test_scans_are_pruned(built, name):
    """Every parquet scan reads <= 6 columns (column pruning reaches
    the scan; the input tables are 8-16 columns wide)."""
    for ncols in built(name)[1]["scan_cols"]:
        assert ncols <= 6, \
            f"{name}: scan reads {ncols} columns (pruning lost)"


@pytest.mark.parametrize("name", NAMES)
def test_oracle_is_type_exact(built, duck, name):
    assert len(E.REGISTRY) == 118, "the driver contract is 118 queries"
    spark_cols = [(f.name, duckdb_type(f.dataType)) for f in built(name)[0]]
    described = duck.execute(f"DESCRIBE {E.REGISTRY[name].oracle()}")
    assert spark_cols == [(col, typ) for col, typ, *_ in described.fetchall()]
