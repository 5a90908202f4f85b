"""Physical-plan audit for the driver queries: the 100 TB design checks
(`.explain` evidence) as a runnable report instead of claims.

For every query in __spark_entry__.queries() (or the names passed on the
command line) this prints, from the formatted physical plan:

- exchanges: number of shuffle Exchange nodes (shuffles are the scale
  cost driver — each should be on a compact key, and few)
- broadcasts: BroadcastExchange / BroadcastHashJoin nodes (small dims
  must broadcast, never shuffle the big side)
- codegen: WholeStageCodegen span count (JVM-side expression work)
- python: ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas /
  MapInArrow / FlatMapGroupsInArrow nodes (the declared Arrow escape
  hatches — anything else Python is a bug)
- scan columns: ReadSchema width per parquet scan (column pruning —
  a scan reading all columns for a narrow projection is wrong)

Usage: python tools/plan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def audit_plan(df) -> dict:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    scans = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    return {
        "exchanges": len(re.findall(r"^\(\d+\) Exchange", plan,
                                    re.MULTILINE)),
        "broadcasts": len(re.findall(
            r"^\(\d+\) Broadcast(?:Exchange|HashJoin|NestedLoopJoin)",
            plan, re.MULTILINE)),
        "codegen": len(set(re.findall(r"\[codegen id : (\d+)\]", plan))),
        "python": len(re.findall(
            r"^\(\d+\) (?:ArrowEvalPython|MapInPandas|"
            r"FlatMapGroupsInPandas|MapInArrow|FlatMapGroupsInArrow|"
            r"BatchEvalPython)",
            plan, re.MULTILINE)),
        "row_at_a_time_python": len(re.findall(
            r"^\(\d+\) BatchEvalPython", plan, re.MULTILINE)),
        "scan_cols": [len([c for c in s.split(",") if ":" in c])
                      for s in scans],
        "plan": plan,
    }


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    import __spark_entry__ as E
    from tilemaker_spark.session import get_spark

    spark = get_spark(app_name="plan_audit", cpus=4, shuffle_partitions=4)
    qs = E.queries()
    names = sys.argv[2:] or list(qs)
    warnings = []
    print(f"{'query':<18}{'exch':>5}{'bcast':>6}{'codegen':>8}"
          f"{'python':>7}  scan_cols")
    for name in names:
        try:
            a = audit_plan(qs[name](spark, sf_dir))
        except Exception as exc:  # noqa: BLE001
            print(f"{name:<18}  ERROR {exc}")
            continue
        print(f"{name:<18}{a['exchanges']:>5}{a['broadcasts']:>6}"
              f"{a['codegen']:>8}{a['python']:>7}  {a['scan_cols']}")
        if a["row_at_a_time_python"]:
            warnings.append(f"{name}: row-at-a-time BatchEvalPython in plan")
    for w in warnings:
        print("WARNING", w)
    print("WARNINGS:", len(warnings))
    spark.stop()


if __name__ == "__main__":
    main()
