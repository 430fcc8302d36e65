"""Unit tests for the benchmark's own logic; no JVM needed.

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import harness  # noqa: E402


# ---------------------------------------------------------------------------
# metric-name grammar and the declared metric set
# ---------------------------------------------------------------------------
@pytest.mark.parametrize("name", ["setup_s", "pip.cells_interior", "exec.shuffle_write_bytes", "9x", "a-b"])
def test_good_names(name):
    assert harness.NAME_RE.match(name)


@pytest.mark.parametrize("name", ["", "_lead", ".lead", "has space", "slash/no", "x" * 65, "é"])
def test_bad_names(name):
    assert not harness.NAME_RE.match(name)


@pytest.mark.parametrize("unit", ["s", "ms", "1/s", "count", "MiB", "%", "bytes"])
def test_good_units(unit):
    assert harness.UNIT_RE.match(unit)


@pytest.mark.parametrize("unit", ["", "docs per s", "x" * 17])
def test_bad_units(unit):
    assert not harness.UNIT_RE.match(unit)


def test_declared_spec_obeys_the_contract():
    spec = harness.load_spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower", "bound": setup[0]["bound"]}]
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
        assert m["bound"] <= setup[0]["bound"]
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and m["better"] in ("higher", "lower")
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_spec_rejects_bad_and_duplicate_names(tmp_path):
    good = json.loads((harness.REPO / "BENCHMARK.json").read_text())
    for bad in ({"name": "bad name", "unit": "s", "better": "lower"},
                dict(good["per_layer"][0])):
        spec = dict(good, per_layer=good["per_layer"] + [bad])
        path = tmp_path / "B.json"
        path.write_text(json.dumps(spec))
        with pytest.raises(ValueError):
            harness.load_spec(path)


def test_metrics_block_needs_exactly_the_declared_names():
    spec = {"end_to_end": [{"name": "a_s", "unit": "s"}, {"name": "b", "unit": "count"}]}
    out = harness.metrics_block(spec, "end_to_end", {"a_s": 1.25, "b": 3})
    assert out == {"a_s": {"value": 1.25, "unit": "s"}, "b": {"value": 3.0, "unit": "count"}}
    with pytest.raises(ValueError, match="missing"):
        harness.metrics_block(spec, "end_to_end", {"a_s": 1.0})
    with pytest.raises(ValueError, match="undeclared"):
        harness.metrics_block(spec, "end_to_end", {"a_s": 1.0, "b": 2, "c": 3})
    with pytest.raises(ValueError, match="finite"):
        harness.metrics_block(spec, "end_to_end", {"a_s": float("nan"), "b": 2})


# ---------------------------------------------------------------------------
# percentile rule: the highest percentile with >= 10 samples beyond it
# ---------------------------------------------------------------------------
@pytest.mark.parametrize("n,p", [(1, None), (19, None), (20, 0.5), (39, 0.5), (40, 0.75),
                                 (100, 0.9), (199, 0.9), (200, 0.95), (1000, 0.99), (10000, 0.999)])
def test_tail_percentile_rung(n, p):
    got = harness.tail_percentile([float(i) for i in range(n)])
    if p is None:
        assert got is None
    else:
        assert got[0] == p
        value = got[1]
        assert sum(1 for i in range(n) if i > value) >= 10  # ten samples beyond it


def test_tail_percentile_ignores_input_order():
    xs = [5.0, 1.0, 9.0, 3.0] * 10
    assert harness.tail_percentile(xs) == harness.tail_percentile(sorted(xs)) == (0.75, 5.0)


# ---------------------------------------------------------------------------
# failure accounting
# ---------------------------------------------------------------------------
def test_tally_counts_failures_and_exceptions():
    t = harness.Tally()
    assert t.failed_frac == 1.0  # nothing attempted is not a success
    assert t.run("ok", lambda: [])
    assert not t.run("bad", lambda: ["wrong count"])
    assert not t.run("boom", lambda: 1 / 0)
    assert (t.attempted, t.failed) == (3, 2)
    assert t.failed_frac == pytest.approx(2 / 3)
    assert t.reasons[0] == "bad: wrong count" and t.reasons[1].startswith("boom: ZeroDivisionError")


def test_measure_runs_min_ops_and_counts_raising_ops():
    calls = []

    def op():
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("second op fails")
        return len(calls)

    t = harness.Tally()
    samples = harness.measure(op, lambda out: [] if out != 3 else ["third is wrong"], 0.0, 4, t, "op")
    assert len(calls) == 4 and len(samples) == 3  # the raising op leaves no sample
    assert (t.attempted, t.failed) == (4, 2)


def test_measure_keeps_going_for_the_window():
    t = harness.Tally()
    samples = harness.measure(lambda: None, lambda out: [], 0.05, 1, t, "op")
    assert len(samples) > 1 and t.failed == 0


# ---------------------------------------------------------------------------
# host plan and input cache key
# ---------------------------------------------------------------------------
def test_host_plan_fits_the_host():
    import os

    plan = harness.host_plan()
    assert plan["cores"] == len(os.sched_getaffinity(0))
    assert 1 <= plan["heap_gb"] <= 3 and plan["heap_gb"] <= plan["mem_available_gb"] / 2


def test_strip_env_removes_every_knob(monkeypatch):
    import os

    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        monkeypatch.setenv(k, os.environ[k])  # restored after the test
    monkeypatch.setenv("SPARK_GRAFT_FUSE_WAYS", "0")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "64g")
    monkeypatch.setenv("SPARK_HOME_UNRELATED", "kept")
    stripped = harness.strip_env()
    assert {"SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_FUSE_WAYS"} <= set(stripped)
    assert stripped == sorted(stripped)
    assert not [k for k in os.environ if k.startswith("SPARK_GRAFT_")]
    assert os.environ["SPARK_HOME_UNRELATED"] == "kept"


def test_corpus_key_depends_on_params_seed_and_generator(monkeypatch):
    params = {"n_docs": 10, "n_zones": 2}
    k = harness.corpus_key(params, 1)
    assert k == harness.corpus_key(dict(params), 1)
    assert k != harness.corpus_key(params, 2)
    assert k != harness.corpus_key({**params, "n_docs": 11}, 1)
    real = Path.read_bytes
    gen = harness.REPO / "osm_to_netex_spark" / "sources" / "documents.py"
    monkeypatch.setattr(Path, "read_bytes", lambda p: real(p) + b"#" if p == gen else real(p))
    assert k != harness.corpus_key(params, 1)


def test_tree_cpu_counts_a_live_child():
    import subprocess

    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass\nprint('done', flush=True)\ntime.sleep(60)"
    before = harness.tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", burn], stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline().strip() == "done"
        assert harness.tree_cpu_s() - before >= 0.4  # clock-tick resolution
    finally:
        child.kill()
        child.wait()
