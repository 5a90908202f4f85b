"""No pandas in the engine: every Python worker under ``tilemaker_spark/``,
in ``jobs/``, ``tools/``, ``__spark_entry__.py`` and ``bench.py`` runs on
Arrow (``mapInArrow``, ``applyInArrow``, ``arrow_udf``), so no batch is
converted to a pandas frame and back.

Pure AST, no imports of the package.  Fails on ``import pandas`` /
``from pandas ...`` and on any name, attribute or imported name
``mapInPandas``, ``applyInPandas`` or ``pandas_udf``.  PySpark's Arrow
schema converters (``pyspark.sql.pandas.types``) stay allowed: they are
Arrow code in a module that happens to be named ``pandas``.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
SOURCES = ("tilemaker_spark/**/*.py", "jobs/*.py", "tools/*.py",
           "__spark_entry__.py", "bench.py")
BANNED = {"mapInPandas", "applyInPandas", "pandas_udf"}


def pandas_uses(root: Path = ROOT) -> list[str]:
    """"path:line: what" of every pandas import or pandas worker API."""
    out = []
    for pattern in SOURCES:
        for f in sorted(root.glob(pattern)):
            tree = ast.parse(f.read_text())
            for n in sorted(ast.walk(tree),
                            key=lambda n: getattr(n, "lineno", 0)):
                if isinstance(n, ast.Import):
                    hits = [a.name for a in n.names
                            if a.name.split(".")[0] == "pandas"]
                elif isinstance(n, ast.ImportFrom):
                    hits = ([n.module] if (n.module or "").split(".")[0]
                            == "pandas" else [])
                    hits += [a.name for a in n.names if a.name in BANNED]
                elif isinstance(n, ast.Name):
                    hits = [n.id] if n.id in BANNED else []
                elif isinstance(n, ast.Attribute):
                    hits = [n.attr] if n.attr in BANNED else []
                else:
                    continue
                out += [f"{f.relative_to(root)}:{n.lineno}: {h}"
                        for h in hits]
    return out


def test_engine_has_no_pandas():
    assert pandas_uses() == []


def test_scan_finds_each_form_and_allows_arrow_converters(tmp_path):
    pkg = tmp_path / "tilemaker_spark"
    pkg.mkdir()
    (pkg / "a.py").write_text(
        "import pandas as pd\n"
        "import numpy, pandas.api\n"
        "from pandas import DataFrame\n"
        "from pyspark.sql.functions import pandas_udf\n"
        "from pyspark.sql.pandas.types import to_arrow_schema\n"
        "df.mapInPandas(f, s)\n"
        "df.groupBy('k').applyInPandas(f, s)\n"
        "F.pandas_udf('long')\n"
        "df.mapInArrow(f, s)\n")
    (tmp_path / "jobs").mkdir()
    (tmp_path / "jobs" / "j.py").write_text("x = pandas_udf\n")
    (tmp_path / "__spark_entry__.py").write_text(
        '"""Names mapInPandas only in a docstring."""\n'
        "from pyspark.sql.pandas.types import from_arrow_schema\n")
    assert pandas_uses(tmp_path) == [
        "tilemaker_spark/a.py:1: pandas",
        "tilemaker_spark/a.py:2: pandas.api",
        "tilemaker_spark/a.py:3: pandas",
        "tilemaker_spark/a.py:4: pandas_udf",
        "tilemaker_spark/a.py:6: mapInPandas",
        "tilemaker_spark/a.py:7: applyInPandas",
        "tilemaker_spark/a.py:8: pandas_udf",
        "jobs/j.py:1: pandas_udf",
    ]
