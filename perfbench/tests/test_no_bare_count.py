"""Every timed or traced action in the benchmark materialises its output:
a noop write, a full collect, a localCheckpoint or an observed aggregate.
A bare count() lets Catalyst prune the columns it does not need, so the
benchmark's own files must not call one."""

import ast
from pathlib import Path

BENCH = Path(__file__).resolve().parents[1]


def bare_counts(path: Path) -> list[int]:
    tree = ast.parse(path.read_text(), str(path))
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "count"
        and not node.args
        and not node.keywords
    ]


def test_no_bare_count_in_benchmark_code():
    offenders = {
        str(p.relative_to(BENCH)): bare_counts(p)
        for p in BENCH.glob("*.py")
    }
    assert {k: v for k, v in offenders.items() if v} == {}


def test_the_scan_finds_a_bare_count(tmp_path):
    src = tmp_path / "x.py"
    src.write_text("df.where('a').count()\nF.count('*')\ntext.count('x')\n")
    assert bare_counts(src) == [1]
