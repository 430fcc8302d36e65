"""The query registry is the merge of the domain modules (no JVM): no
module of the package imports its root, every domain query is registered
exactly once, and the driver-checked window leads the registry."""

import ast
import copy
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


_REGISTERS_VIEWS = {"register_geometry_views", "parquet", "createOrReplaceTempView"}


def _body(fn: ast.FunctionDef) -> list[ast.stmt]:
    """The statements of ``fn`` after its docstring."""
    first = fn.body[0]
    doc = isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant)
    return fn.body[1:] if doc else fn.body


def _creates_view(stmt: ast.stmt) -> bool:
    """``stmt`` is ``spark.sql("create or replace temp view …")``."""
    call = stmt.value if isinstance(stmt, ast.Expr) else None
    return (
        isinstance(call, ast.Call) and ast.unparse(call.func) == "spark.sql" and len(call.args) == 1
        and ast.unparse(call.args[0]).lstrip("f'\"").startswith("create or replace temp view")
    )


def _registers_sf_views(stmt: ast.stmt, fns: dict[str, ast.FunctionDef]) -> bool:
    """``stmt`` only reads sf tables and registers them as temp views,
    directly or through a module helper that does only that."""
    if _creates_view(stmt):
        return True
    for call in (n for n in ast.walk(stmt) if isinstance(n, ast.Call)):
        name = getattr(call.func, "id", getattr(call.func, "attr", None))
        if name in fns:
            if not all(_registers_sf_views(s, fns) for s in _body(fns[name])):
                return False
        elif name not in _REGISTERS_VIEWS or (
            name == "parquet" and "sf_dir" not in ast.unparse(call)
        ):
            return False
    return True


_DIALECTS = {"SPARK": "spark", "DUCK": "duckdb"}


class _Template(ast.NodeTransformer):
    """One side of a builder/oracle pair as a dialect-free template: the
    dialect (``SPARK``/``"spark"`` or ``DUCK``/``"duckdb"``) becomes ``D``,
    ``with_fixtures(x, d)`` becomes ``x``, and the DuckDB geometry prefix
    (``{duck_geometry_ctes()}`` and a ``geo_traj`` CTE after it) is
    dropped, as on Spark, where those fixtures are views."""

    def __init__(self, dialect: str):
        self.dialect = dialect
        self.found = False

    def visit_Name(self, node):
        if node.id == self.dialect:
            self.found = True
            return ast.Name("D")
        return node

    def visit_Constant(self, node):
        if node.value == _DIALECTS[self.dialect]:
            self.found = True
            return ast.Name("D")
        return node

    def visit_Call(self, node):
        if ast.unparse(node.func) == "with_fixtures" and len(node.args) == 2:
            self.visit(node.args[1])
            return self.visit(node.args[0])
        return self.generic_visit(node)

    def visit_JoinedStr(self, node):
        parts = node.values
        if parts and ast.unparse(parts[0]) == "{duck_geometry_ctes()}":
            rest = parts[1:]
            if (
                len(rest) > 2 and isinstance(rest[0], ast.Constant)
                and rest[0].value.startswith(", geo_traj as (")
                and ast.unparse(rest[1].value).startswith("traj_sql(")
            ):
                rest = [ast.Constant("," + rest[2].value[2:]), *rest[3:]]
            head = rest[0].value if rest and isinstance(rest[0], ast.Constant) else None
            if head is not None:
                head = "with" + head[1:] if head.startswith(",") else head.removeprefix(" ")
                parts = [ast.Constant(head), *rest[1:]]
        node = ast.JoinedStr([p if isinstance(p, ast.Constant) else self.visit(p) for p in parts])
        if all(isinstance(p, ast.Constant) for p in node.values):
            return ast.Constant("".join(p.value for p in node.values))
        return node


def _template(node: ast.AST, dialect: str) -> str | None:
    """The template of ``node`` in ``dialect``; None when it names no dialect."""
    t = _Template(dialect)
    out = ast.unparse(t.visit(copy.deepcopy(node)))
    return out if t.found else None


def _single_sql_wrappers(tree: ast.Module) -> list[str]:
    """Builders ``q_x`` that only register sf views before returning
    ``spark.sql(T(SPARK))`` while ``q_x_oracle`` only returns ``T(DUCK)``,
    for one template ``T`` around the dialect, with or without the DuckDB
    geometry prefix: the pair ``sql_query`` declares."""
    fns = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}
    found = []
    for name, oracle in fns.items():
        build = fns.get(name.removesuffix("_oracle")) if name.endswith("_oracle") else None
        if build is None:
            continue
        returns, (*head, last) = _body(oracle), _body(build) or [None]
        if len(returns) != 1 or not isinstance(returns[0], ast.Return):
            continue
        sql = _template(returns[0].value, "DUCK")
        run = last.value if isinstance(last, ast.Return) else None
        if (
            sql is not None and isinstance(run, ast.Call) and ast.unparse(run.func) == "spark.sql"
            and len(run.args) == 1 and _template(run.args[0], "SPARK") == sql
            and all(_registers_sf_views(s, fns) for s in head)
        ):
            found.append(build.name)
    return found


def test_single_sql_queries_use_sql_query():
    """A query that is one SQL text in two dialects registers as
    ``sql_query(f)``; a hand-written ``q_x``/``q_x_oracle`` pair of that
    shape is boilerplate the helper already declares."""
    found = {
        path.name: _single_sql_wrappers(ast.parse(path.read_text()))
        for path in sorted(PKG.glob("*.py"))
    }
    assert not {k: v for k, v in found.items() if v}


def _passes_sql_through(fn: ast.FunctionDef) -> bool:
    """``fn`` only returns ``spark.sql(x_sql(SPARK, …))`` (imports aside)."""
    body = [s for s in _body(fn) if not isinstance(s, (ast.Import, ast.ImportFrom))]
    run = body[0].value if len(body) == 1 and isinstance(body[0], ast.Return) else None
    if not (isinstance(run, ast.Call) and ast.unparse(run.func) == "spark.sql" and len(run.args) == 1):
        return False
    sql = run.args[0]
    return isinstance(sql, ast.Call) and bool(sql.args) and ast.unparse(sql.args[0]) in (
        "SPARK", "'spark'",
    )


def test_no_operator_entry_only_runs_its_sql():
    """An operator entry that only runs ``spark.sql(x_sql(SPARK, …))`` adds
    nothing to ``x_sql``: the registry runs ``x_sql`` through ``sql_query``
    and tests call ``spark.sql(x_sql(SPARK, …))`` themselves."""
    found = [
        f"{path.name}:{fn.name}"
        for path in sorted((PACKAGE / "operators").glob("*.py"))
        for fn in ast.walk(ast.parse(path.read_text()))
        if isinstance(fn, ast.FunctionDef) and _passes_sql_through(fn)
    ]
    assert not found


PACKAGE = PKG.parents[1]  # osm_to_netex_spark


def test_operators_read_the_fixes_they_are_given():
    """An operator computes on the coordinates its input carries: no
    function under operators/ takes a ``synthesize`` switch, and
    operators/trajectory.py makes up no coordinates (no ``prand``) and
    registers no view of its input.  GPS fixtures of the sf events live
    with the queries (plans/queries/)."""
    switched = [
        f"{path.name}:{fn.name}"
        for path in sorted((PACKAGE / "operators").glob("*.py"))
        for fn in ast.walk(ast.parse(path.read_text()))
        if isinstance(fn, ast.FunctionDef)
        and "synthesize" in {a.arg for a in fn.args.args + fn.args.kwonlyargs}
    ]
    assert not switched
    tree = ast.parse((PACKAGE / "operators" / "trajectory.py").read_text())
    called = {
        ast.unparse(n.func).rpartition(".")[2] for n in ast.walk(tree) if isinstance(n, ast.Call)
    }
    assert not called & {"prand", "createOrReplaceTempView", "createTempView"}
    assert not [
        n.value for n in ast.walk(tree)
        if isinstance(n, ast.Constant) and isinstance(n.value, str) and "temp view" in n.value
    ]


def _registry_digest():
    spec = importlib.util.spec_from_file_location(
        "registry_digest", PACKAGE.parent / "tools" / "registry_digest.py"
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_spark_digest_hashes_no_view_registration():
    """tools/registry_digest.py hashes the last SQL text a builder sends;
    the sf-view registration is not the builder's, so a DataFrame builder
    that sends no SQL of its own is left out rather than hashed as the
    last view register_geometry_views created."""
    texts = _registry_digest().spark_texts()
    assert len(texts) > 150
    assert not sorted(
        name for name, text in texts.items()
        if text.lstrip().lower().startswith("create or replace temp view")
    )
# unrolled CTE chains whose engine side is no checkpointed round loop: one
# SQL text in both engines (stationary distribution, logistic GD, MMR, PCA,
# IPF) or a loop of its own (k-means, PQ, simplify and funnel iterate in the
# DataFrame API, pagerank's round views are not checkpointed, the
# trajectory DPs run anti-diagonals); staging them would change their plans
_CTE_LOOPS_KEPT = {
    "operators/clustering.py:kmeans_oracle_sql",
    "operators/graph.py:pagerank_oracle_sql",
    "operators/regression.py:logreg_gd_sql",
    "operators/similarity.py:topk_pq_adc_oracle_sql",
    "operators/simplify.py:simplify_dp_oracle_sql",
    "operators/temporal.py:funnel_oracle_sql",
    "operators/trajectory.py:gravity_ipf_sql",
    "operators/trajsim.py:_dp_oracle_sql",
    "plans/queries/retrieval.py:_mmr_sql",
    "plans/queries/retrieval.py:_pca_body",
    "plans/queries/stats.py:_stationary_sql",
}


def _attr_calls(node: ast.AST, attr: str) -> list[ast.Call]:
    return [
        n for n in ast.walk(node)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and n.func.attr == attr
    ]


def _hand_staged(tree: ast.Module) -> set[str]:
    """Functions that register a ``localCheckpoint`` frame as a temp view,
    or append to a ``ctes`` list in a loop: a K-round query written out by
    hand instead of through functions.stages."""
    found = set()
    for fn in (n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)):
        checkpointed = {
            t.id
            for a in ast.walk(fn) if isinstance(a, ast.Assign) and _attr_calls(a.value, "localCheckpoint")
            for t in a.targets if isinstance(t, ast.Name)
        }
        for call in _attr_calls(fn, "createOrReplaceTempView"):
            view = call.func.value
            if _attr_calls(view, "localCheckpoint") or getattr(view, "id", None) in checkpointed:
                found.add(fn.name)
        for loop in (n for n in ast.walk(fn) if isinstance(n, (ast.For, ast.While))):
            grows = [c.func.value for c in _attr_calls(loop, "append")] + [
                a.target for a in ast.walk(loop) if isinstance(a, ast.AugAssign)
            ]
            if any(getattr(g, "id", None) == "ctes" for g in grows):
                found.add(fn.name)
    return found


def test_k_round_queries_use_the_stage_runner():
    """Rounds are staged by functions.stages (run_stages / stages_sql), the
    one place that registers checkpointed views and writes materialized
    CTEs; the one-off checkpoints that register no view are not rounds."""
    found = {
        f"{path.relative_to(PACKAGE).as_posix()}:{name}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != PACKAGE / "functions" / "stages.py"
        for name in _hand_staged(ast.parse(path.read_text()))
    }
    assert found == _CTE_LOOPS_KEPT


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


def test_sessions_launch_through_get_spark():
    """Every session starts through session.get_spark, so every launcher
    (bench.py, tools, tests, job.main, perfbench) gets its JVM policy: no
    Python file of the repository outside session.py uses
    SparkSession.builder."""
    repo = TESTS.parent
    found = [
        str(path.relative_to(repo))
        for path in sorted(repo.rglob("*.py"))
        if not any(p.startswith(".") for p in path.relative_to(repo).parts)
        and path != repo / "osm_to_netex_spark" / "session.py"
        and any(
            isinstance(n, ast.Attribute) and n.attr == "builder"
            and ast.unparse(n.value).endswith("SparkSession")
            for n in ast.walk(ast.parse(path.read_text()))
        )
    ]
    assert not found


def test_testdata_paths_live_in_support():
    """The testdata directory is named once, in tests/support.py; every
    other test module reaches a corpus through its constants."""
    named = [
        path.name
        for path in sorted(TESTS.glob("*.py"))
        if path.name != "support.py" and TESTDATA in path.read_text()
    ]
    assert not named
