"""Every top-level definition under ``tilemaker_spark/`` is reached from
the fixed surface: the query registry (``__spark_entry__.py``), the
spark-submit jobs, ``bench.py`` and ``perfbench/``.

Pure AST, no imports of the package.  References are the names,
attribute names, imported names and identifier parts of string
constants (docstrings excluded) in the entry points.  A definition is
reached when one of those names matches it; its body's references then
count too, repeated to a fixpoint.  Module-level code other than
definitions counts once its module is referenced.  Matching is by bare
name, so a collision can only keep dead code alive, never flag live
code.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
ENTRY_POINTS = ("__spark_entry__.py", "bench.py", "jobs/*.py",
                "perfbench/*.py")

# unreached on purpose: each checks other, reached code from the tests
ALLOWLIST = {
    "_supercover_segment": "scalar reference for _supercover_segments",
    "tile_assignments": "JVM parity target, FIXTURES.md §5",
    "radius_join_audit": "exactness audit; ROADMAP item 7 removes it "
                         "with its fix",
    "decode_file": "PBF-writer round trip; the documented decode smoke "
                   "check",
    "decode_header": "PBF-writer round trip; the documented decode smoke "
                     "check",
    "pmtiles_stats": "archive reader",
    "mbtiles_stats": "archive reader",
    "read_filetree_tile": "archive reader",
    "hash_word": "simhash formula reference",
    "tile_id_unpack": "inverse for round-trip tests",
    "hex_cell_unpack": "inverse for round-trip tests",
}


def _docstrings(tree: ast.AST) -> set[int]:
    out = set()
    for n in ast.walk(tree):
        if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef,
                          ast.AsyncFunctionDef)):
            first = n.body[0] if n.body else None
            if (isinstance(first, ast.Expr)
                    and isinstance(first.value, ast.Constant)
                    and isinstance(first.value.value, str)):
                out.add(id(first.value))
    return out


def _refs(nodes, docs: set[int]) -> set[str]:
    out = set()
    for root in nodes:
        for n in ast.walk(root):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.alias):
                out.update(n.name.split("."))
                if n.asname:
                    out.add(n.asname)
            elif isinstance(n, ast.ImportFrom) and n.module:
                out.update(n.module.split("."))
            elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
                    and id(n) not in docs):
                out.update(p for p in n.value.replace(":", ".").split(".")
                           if p.isidentifier())
    return out


def _definitions(root: Path) -> dict:
    """(file, name) -> (names that reach it, body nodes, docstring ids);
    name "<module>" holds a module's non-definition statements."""
    defs = {}
    for f in sorted((root / "tilemaker_spark").rglob("*.py")):
        tree = ast.parse(f.read_text())
        docs = _docstrings(tree)
        mod = f.relative_to(root).with_suffix("").parts
        if mod[-1] == "__init__":
            mod = mod[:-1]
        rest = []
        for st in tree.body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef,
                               ast.ClassDef)):
                defs[(f, st.name)] = ({st.name}, [st], docs)
                continue
            targets = (st.targets if isinstance(st, ast.Assign)
                       else [st.target] if isinstance(st, ast.AnnAssign)
                       else [])
            names = [t.id for t in targets if isinstance(t, ast.Name)
                     and not t.id.startswith("__")]
            if names and len(names) == len(targets):
                for name in names:
                    defs[(f, name)] = ({name}, [st], docs)
            else:
                rest.append(st)
        defs[(f, "<module>")] = ({mod[-1], ".".join(mod)}, rest, docs)
    return defs


def unreached(root: Path = ROOT) -> list[str]:
    """"path:name" of every top-level package definition no entry point
    reaches."""
    defs = _definitions(root)
    seen = set()
    for pattern in ENTRY_POINTS:
        for f in sorted(root.glob(pattern)):
            tree = ast.parse(f.read_text())
            seen |= _refs([tree], _docstrings(tree))
    reached = set()
    while True:
        new = [k for k, (names, _, _) in defs.items()
               if k not in reached and names & seen]
        if not new:
            break
        for k in new:
            reached.add(k)
            seen |= _refs(defs[k][1], defs[k][2])
    return sorted(f"{f.relative_to(root)}:{name}" for f, name in defs
                  if (f, name) not in reached and name != "<module>")


def test_every_definition_is_reached_or_allowlisted():
    dead = unreached()
    assert [d for d in dead if d.split(":")[1] not in ALLOWLIST] == []
    # a reached or deleted entry leaves the allowlist
    assert sorted(d.split(":")[1] for d in dead) == sorted(ALLOWLIST)


def test_scan_finds_dead_chains_and_ignores_docstrings(tmp_path):
    pkg = tmp_path / "tilemaker_spark"
    (pkg / "ops").mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "ops" / "__init__.py").write_text("")
    (pkg / "ops" / "m.py").write_text(
        '"""Mentions dead_doc."""\n'
        "LIMIT = 3\n"
        "UNUSED = 4\n"
        "def used():\n    return helper() + LIMIT\n"
        "def helper():\n    return 1\n"
        "def by_string():\n    return 2\n"
        "def dead():\n    return dead_chain()\n"
        "def dead_chain():\n    return 3\n"
        "def dead_doc():\n    return 4\n")
    (tmp_path / "__spark_entry__.py").write_text(
        '"""Calls dead_doc."""\n'
        "from tilemaker_spark.ops import m\n"
        "m.used()\n"
        "getattr(m, 'by_string')\n")
    assert unreached(tmp_path) == [
        "tilemaker_spark/ops/m.py:UNUSED",
        "tilemaker_spark/ops/m.py:dead",
        "tilemaker_spark/ops/m.py:dead_chain",
        "tilemaker_spark/ops/m.py:dead_doc",
    ]
