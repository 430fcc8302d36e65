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

ROOT = Q.__name__  # osm_to_netex_spark.plans.queries
PKG = Path(Q.__file__).parent


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
