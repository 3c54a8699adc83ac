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


#: Optional parameters that keep one production value on purpose, each
#: with its reason. A parameter earns its place when two production
#: callers pass different values; tests do not count.
_ONE_VALUE_ALLOWED = {
    "start_ingest.processing_time": "perfbench passes its trigger interval",
    "start_gold_refresh.processing_time": "perfbench passes its trigger interval",
    "start_ingest.available_now": "deterministic drains; the restart test",
    "start_gold_refresh.available_now": "deterministic drains; the restart test",
    "start_ingest.max_files_per_trigger": "deterministic drains; the restart test",
    "latest_orders.categories": "the reference's multiselect filters (COVERAGE B8)",
    "latest_orders.locations": "the reference's multiselect filters (COVERAGE B8)",
    "generate_raw_orders.seed": "perfbench passes a run seed",
    "shingles.n": "forwarded: callers pass their own n-gram size",
    "load_table.sf_dir": "forwarded: the registry's _t passes each fixture dir",
}


def _optional_params(fn: ast.FunctionDef) -> tuple[list[str], list]:
    """Positional parameter names, and (name, default) of every
    parameter that has a default."""
    a = fn.args
    pos = a.posonlyargs + a.args
    opt = list(zip(pos[len(pos) - len(a.defaults):], a.defaults))
    opt += [(p, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return [p.arg for p in pos], [(p.arg, d) for p, d in opt]


def _single_valued_params(repo: Path) -> list[str]:
    """Optional parameters of top-level package functions whose
    production call sites (the package itself and the production roots,
    never ``tests/``) pass at most one value, by source text, the default
    counting where a call omits the parameter. Calls are matched by
    name; a call through ``*args``/``**kwargs`` is skipped, and a name
    that more than one package function with defaults carries is
    reported as ambiguous instead of guessed."""
    pkg = repo / "streamlit_projet_spark_streaming_spark"
    files = set(pkg.rglob("*.py"))
    for rel in _PRODUCTION_ROOTS:
        path = repo / rel
        files |= set(path.rglob("*.py")) if path.is_dir() else {path}
    trees = {path: ast.parse(path.read_text()) for path in sorted(files)}
    funcs: dict[str, list[tuple[Path, ast.FunctionDef]]] = {}
    aliases: dict[str, set[str]] = {}
    for path, tree in trees.items():
        if path.is_relative_to(pkg):
            for stmt in tree.body:
                if isinstance(stmt, ast.FunctionDef):
                    funcs.setdefault(stmt.name, []).append((path, stmt))
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                for a in node.names:
                    if a.asname:
                        aliases.setdefault(a.asname, set()).add(a.name)
    values: dict[tuple[str, int, str], set[str]] = {}
    ambiguous = set()
    for tree in trees.values():
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            f = call.func
            name = getattr(f, "id", None) or getattr(f, "attr", None)
            targets = [
                t for n in {name} | aliases.get(name, set()) for t in funcs.get(n, [])
            ]
            if not targets or any(
                isinstance(a, ast.Starred) for a in call.args
            ) or any(k.arg is None for k in call.keywords):
                continue
            if len(targets) > 1:
                if any(_optional_params(fn)[1] for _, fn in targets):
                    ambiguous.add(name)
                continue
            path, fn = targets[0]
            pos, opt = _optional_params(fn)
            given = {k.arg: k.value for k in call.keywords}
            given.update(zip(pos, call.args))
            for param, default in opt:
                values.setdefault((str(path), fn.lineno, param), set()).add(
                    ast.unparse(given.get(param, default))
                )
    found = [f"ambiguous: {name}" for name in sorted(ambiguous)]
    for defs in funcs.values():
        for path, fn in defs:
            for param, _ in _optional_params(fn)[1]:
                seen = values.get((str(path), fn.lineno, param), set())
                if len(seen) <= 1 and f"{fn.name}.{param}" not in _ONE_VALUE_ALLOWED:
                    found.append(
                        f"{path.relative_to(repo)}:{fn.lineno} "
                        f"{fn.name}.{param} {sorted(seen)}"
                    )
    return sorted(found)


def test_every_optional_parameter_takes_two_production_values():
    """A parameter with a default is an option only when two production
    callers pass different values; one that every production caller
    sets alike (or leaves at its default) is a constant, written once
    as a module constant next to the algorithm. Tests pin other values
    with ``monkeypatch.setattr`` on that constant."""
    assert _single_valued_params(Path(__file__).resolve().parent.parent) == []
