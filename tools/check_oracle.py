"""Local stand-in for the driver's correctness gate: run every
__spark_entry__ query on Spark AND its oracle SQL on DuckDB over the same
parquet dir; compare row count, column names, and an order-insensitive
value hash (floats rounded to 9 significant-ish decimals before hashing,
mirroring a tolerant driver compare).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return "\0"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(canon(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as E
    from tilemaker_spark.session import get_spark, release_storage

    spark = get_spark(cpus=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = E.queries()
    oracles = E.oracle_sql()
    # sweep manifest: any query that silently vanishes from the output is
    # loud — r04's driver sweep dropped `simplify` with no err row
    print(f"SWEEP manifest: {len(qs)} queries: {sorted(qs)}")
    evaluated = []
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        evaluated.append(name)
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            release_storage(spark)
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"OK?  {name}: rows-only check, {len(srows)} rows "
                  f"(no oracle)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {ex}")
            failures.append(name)
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols {sorted(scols)} != {sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rows {len(srows)} != {len(orows)}")
        if not problems:
            hs = table_hash(srows, scols)
            ho = table_hash(orows, ocols)
            if hs != ho:
                problems.append(f"value hash {hs} != {ho}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failures.append(name)
            # show a few diff rows for debugging
            sset = {tuple(canon(v) for v in r) for r in srows}
            oset = {tuple(canon(v) for v in r) for r in orows}
            for r in list(sset - oset)[:3]:
                print(f"   spark-only {scols}: {r}")
            for r in list(oset - sset)[:3]:
                print(f"   duck-only  {ocols}: {r}")
        else:
            print(f"OK   {name}: {len(srows)} rows")
    spark.stop()
    if not only and len(evaluated) != len(qs):
        missing = sorted(set(qs) - set(evaluated))
        print(f"FAIL sweep-incomplete: evaluated {len(evaluated)}/{len(qs)};"
              f" missing {missing}")
        failures.append("sweep-incomplete")
    print(f"SWEEP evaluated {len(evaluated)}/{len(qs)} queries")
    print("\nFAILURES:", failures if failures else "none")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
