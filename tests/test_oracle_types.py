"""Oracle twins are type-exact, not just value-exact: every registered
DuckDB oracle binds over the sf0.001 tables, and none emits a HUGEINT or
DECIMAL column.  Spark's integer sums are bigint while DuckDB widens an
un-CAST integer ``sum()`` to HUGEINT; a driver comparing through pandas
or Arrow types sees that difference even when the values agree.
Spark-free: DuckDB ``DESCRIBE`` only binds each query."""

import glob
import os

import duckdb

import __spark_entry__ as E


def test_oracles_bind_without_wide_numeric_columns(sf_dir):
    con = duckdb.connect()
    for path in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(path)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    oracles = E.oracle_sql()
    assert len(oracles) == 118
    wide = {}
    for name, sql in oracles.items():
        cols = con.execute(f"DESCRIBE {sql}").fetchall()
        bad = [(col, typ) for col, typ, *_ in cols
               if typ.startswith(("HUGEINT", "DECIMAL"))]
        if bad:
            wide[name] = bad
    assert wide == {}
