"""Byte-identity guard over the driver contract: the ``queries()`` name
order and the ``oracle_sql()`` text of every entry.

A refactor of builders or helpers must leave both untouched; a change
that means to alter the contract (a new entry, a mended oracle) updates
the pinned digests here in the same change, so every contract change is
a visible diff. Doc text (``QuerySpec.doc``) is outside the guard.
"""

import ast
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from streamlit_projet_spark_streaming_spark import registry
from streamlit_projet_spark_streaming_spark.registry import (
    QUERY_ORDER,
    REGISTRY,
    oracle_sql,
    queries,
)

N_ENTRIES = 303
NAMES_SHA256 = "5d68a76f9ed63e4ef7cf617dc4dc6225006b8d41d8f22f197b08f0bd3bc837dc"
ORACLES_SHA256 = "3d19c70e0a24ff74a39b5bc8053070fc35b40ce588276b905cf4eaa15202b1c6"


def _sha256(obj):
    return hashlib.sha256(json.dumps(obj).encode()).hexdigest()


def test_query_names_and_order_are_pinned():
    names = list(queries())
    assert len(names) == N_ENTRIES
    assert _sha256(names) == NAMES_SHA256


def test_oracle_text_is_pinned():
    names = list(queries())
    oracles = oracle_sql()
    assert sorted(oracles) == sorted(names)
    assert _sha256([[n, oracles.get(n)] for n in names]) == ORACLES_SHA256


def test_every_registry_entry_is_listed_once():
    names = list(queries())
    assert sorted(names) == sorted(REGISTRY)
    assert len(names) == len(set(names))
    assert list(REGISTRY) == names


def test_order_does_not_depend_on_where_the_package_sits(tmp_path):
    """An installed copy (no repo files beside it) serves the same order."""
    pkg = Path(registry.__file__).resolve().parent
    shutil.copytree(
        pkg, tmp_path / pkg.name, ignore=shutil.ignore_patterns("__pycache__")
    )
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "import json; from streamlit_projet_spark_streaming_spark.registry"
            " import queries; print(json.dumps(list(queries())))",
        ],
        cwd=tmp_path,
        env={**os.environ, "PYTHONPATH": str(tmp_path)},
        capture_output=True,
        text=True,
        check=True,
        timeout=300,
    )
    assert json.loads(out.stdout) == list(queries())


def test_order_must_list_every_entry_exactly_once():
    names = QUERY_ORDER[1:] + QUERY_ORDER[-1:]
    copy = dict(REGISTRY)
    with pytest.raises(ValueError) as err:
        registry._put_in_order(copy, names)
    assert QUERY_ORDER[0] in str(err.value)
    assert QUERY_ORDER[-1] in str(err.value)
    assert list(copy) == list(REGISTRY)


#: Where production starts: the registry builders, the serving and
#: streaming layers, the benchmark, the tools and the two entry scripts.
#: A package function no name-reference chain from these reaches is code
#: only its own tests run.
_PRODUCTION_ROOTS = (
    "streamlit_projet_spark_streaming_spark/registry.py",
    "streamlit_projet_spark_streaming_spark/serving",
    "streamlit_projet_spark_streaming_spark/streaming",
    "perfbench",
    "tools",
    "bench.py",
    "__spark_entry__.py",
)

#: ``oracle_sql_shopping`` is the DuckDB reference that
#: ``test_shopping_views.py`` checks the Spark views against.
_TEST_ONLY_ALLOWED = {"oracle_sql_shopping"}


def _referenced_names(node) -> set[str]:
    return {
        n.id if isinstance(n, ast.Name) else n.attr
        for n in ast.walk(node)
        if isinstance(n, (ast.Name, ast.Attribute))
    }


def _unreached_functions(repo: Path) -> list[str]:
    """Top-level package functions that no production root reaches, by
    name: a reference to a name reaches every function of that name
    (over-counting reachability, never under-counting), and an import
    alias (``import f as _f``) reaches ``f``."""
    pkg = repo / "streamlit_projet_spark_streaming_spark"
    roots = set()
    for rel in _PRODUCTION_ROOTS:
        path = repo / rel
        roots |= set(path.rglob("*.py")) if path.is_dir() else {path}
    funcs: dict[str, list[ast.FunctionDef]] = {}
    aliases: dict[str, set[str]] = {}
    reached_names = set()
    for path in set(pkg.rglob("*.py")) | roots:
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                for a in node.names:
                    aliases.setdefault(a.asname or a.name, set()).add(a.name)
        for stmt in tree.body:
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            if path not in roots and isinstance(stmt, ast.FunctionDef):
                funcs.setdefault(stmt.name, []).append(stmt)
            else:  # module-level code runs on import; roots run whole
                reached_names |= _referenced_names(stmt)

    def expand(names: set[str]) -> set[str]:
        return names | {t for n in names for t in aliases.get(n, ())}

    reached: set[str] = set()
    frontier = expand(reached_names) & set(funcs)
    while frontier:
        reached |= frontier
        nxt = set()
        for name in frontier:
            for fn in funcs[name]:
                nxt |= expand(_referenced_names(fn))
        frontier = (nxt & set(funcs)) - reached
    return sorted(set(funcs) - reached - _TEST_ONLY_ALLOWED)


def test_every_package_function_has_a_production_caller():
    """Every operator is reachable from a ``queries()`` builder or another
    production path; a function only tests call is deleted, not kept."""
    assert _unreached_functions(Path(__file__).resolve().parent.parent) == []
