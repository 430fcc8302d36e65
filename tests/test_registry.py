"""The query registry is the merge of the domain modules (no JVM): no
module of the package imports its root, every domain query is registered
exactly once, and the driver-checked window leads the registry."""

import ast
import importlib
import importlib.util
import pkgutil
from pathlib import Path

from osm_to_netex_spark.plans import queries as Q
from osm_to_netex_spark.plans.convert_queries import CONVERT_QUERIES
from tests.support import TESTDATA

ROOT = Q.__name__  # osm_to_netex_spark.plans.queries
PKG = Path(Q.__file__).parent
TESTS = Path(__file__).parent


def _imports_root(node: ast.AST) -> bool:
    if isinstance(node, ast.Import):
        return any(a.name == ROOT for a in node.names)
    if not isinstance(node, ast.ImportFrom):
        return False
    target = importlib.util.resolve_name("." * node.level + (node.module or ""), ROOT)
    parent, _, leaf = ROOT.rpartition(".")
    return target == ROOT or (target == parent and any(a.name == leaf for a in node.names))


def test_no_module_imports_the_package_root():
    for path in PKG.glob("*.py"):
        if path.name != "__init__.py":
            tree = ast.parse(path.read_text())
            assert not any(_imports_root(n) for n in ast.walk(tree)), path.name


def test_domain_queries_sum_to_the_registry():
    modules = [importlib.import_module(f"{ROOT}.{m.name}") for m in pkgutil.iter_modules([str(PKG)])]
    n_domain = sum(len(m.QUERIES) for m in modules if hasattr(m, "QUERIES"))
    assert n_domain + len(CONVERT_QUERIES) == len(Q.QUERIES) == 312
    assert len(Q.ROWS_ONLY) == 2


def test_driver_window_leads_the_registry():
    assert list(Q.QUERIES)[:50] == Q._DRIVER_WINDOW


def _imported_test_modules(tree: ast.AST) -> list[str]:
    """Import targets naming a test module: ``tests.test_x``, ``test_x`` or
    ``.test_x``, with or without a trailing member."""
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = "." * node.level + (node.module or "")
            targets = [base] + [f"{base}.{a.name}" for a in node.names]
        else:
            continue
        for target in targets:
            parts = target.lstrip(".").split(".")
            if parts[0] == "tests":
                parts = parts[1:]
            if parts and parts[0].startswith("test_"):
                out.append(target)
    return out


def test_no_test_module_imports_another():
    """The tests follow the registry's layout: shared helpers live in
    tests/support.py and shared fixtures in conftest.py, so no test module
    imports another."""
    found = {
        path.name: _imported_test_modules(ast.parse(path.read_text()))
        for path in sorted(TESTS.glob("*.py"))
    }
    assert not {k: v for k, v in found.items() if v}


def test_testdata_paths_live_in_support():
    """The testdata directory is named once, in tests/support.py; every
    other test module reaches a corpus through its constants."""
    named = [
        path.name
        for path in sorted(TESTS.glob("*.py"))
        if path.name != "support.py" and TESTDATA in path.read_text()
    ]
    assert not named
