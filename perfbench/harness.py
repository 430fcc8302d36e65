"""Workload-independent parts of the benchmark: host facts, the Spark
session lifecycle, timing statistics, failure accounting, the metric-name
grammar and the seeded input cache.

Nothing here imports the program under test at module load, so the unit
tests run without a JVM.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import platform
import re
import shutil
import subprocess
import sys
import time
from contextlib import contextmanager
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
REPO = BENCH_DIR.parent
WORK = BENCH_DIR / ".work"  # corpora, catalogs, event logs, Spark temp

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
ENV_PREFIX = "SPARK_GRAFT_"
TAIL_LADDER = (0.999, 0.99, 0.95, 0.9, 0.75, 0.5)


# ---------------------------------------------------------------------------
# metric declarations
# ---------------------------------------------------------------------------
def load_spec(path: Path = REPO / "BENCHMARK.json") -> dict:
    """BENCHMARK.json, with every metric name and unit checked against the
    grammar; the declared lists are the single source of metric names."""
    spec = json.loads(path.read_text())
    seen = set()
    for m in spec["end_to_end"] + spec["per_layer"]:
        if not NAME_RE.match(m["name"]) or not UNIT_RE.match(m["unit"]):
            raise ValueError(f"bad metric declaration {m}")
        if m["name"] in seen:
            raise ValueError(f"metric declared twice: {m['name']}")
        seen.add(m["name"])
    return spec


def metrics_block(spec: dict, key: str, values: dict) -> dict:
    """{name: {value, unit}} for exactly the metrics declared under `key`;
    a missing or undeclared name is a benchmark bug and raises."""
    declared = {m["name"]: m["unit"] for m in spec[key]}
    if set(values) != set(declared):
        missing = sorted(set(declared) - set(values))
        extra = sorted(set(values) - set(declared))
        raise ValueError(f"{key}: missing {missing}, undeclared {extra}")
    out = {}
    for name, unit in declared.items():
        v = float(values[name])
        if not math.isfinite(v):
            raise ValueError(f"{name} is not finite: {v}")
        out[name] = {"value": v, "unit": unit}
    return out


# ---------------------------------------------------------------------------
# statistics and failure accounting
# ---------------------------------------------------------------------------
def tail_percentile(samples: list[float]) -> tuple[float, float] | None:
    """(p, value) for the highest percentile of TAIL_LADDER that has at least
    ten samples strictly beyond it (nearest-rank), or None when no rung does.
    """
    n = len(samples)
    ordered = sorted(samples)
    for p in TAIL_LADDER:
        rank = max(1, math.ceil(p * n - 1e-9))  # nearest rank; p * n may round up past an integer
        if n - rank >= 10:
            return p, ordered[rank - 1]
    return None


class Tally:
    """Operations attempted and failed; a failed check records its reason."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def record(self, what: str, problems: list[str]) -> bool:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.reasons.append(f"{what}: " + "; ".join(problems))
        return not problems

    def run(self, what: str, check) -> bool:
        """Record check() → list of problems; an exception is a failure."""
        try:
            problems = check()
        except Exception as e:  # a crashing check is a failed operation
            problems = [f"{type(e).__name__}: {str(e)[:300]}"]
        return self.record(what, problems)

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def measure(op, check, seconds: float, min_ops: int, tally: Tally, what: str) -> list[float]:
    """Closed loop, one client: run op() back to back until `seconds` have
    passed and at least `min_ops` were attempted.  Only op() is timed; its
    output is checked after, and an op that raises counts as failed and
    contributes no sample."""
    samples: list[float] = []
    t_end = time.perf_counter() + seconds
    n = 0
    while n < min_ops or time.perf_counter() < t_end:
        n += 1

        def timed_check():
            t0 = time.perf_counter()
            out = op()
            samples.append(time.perf_counter() - t0)
            return check(out)

        tally.run(f"{what}#{n}", timed_check)
    return samples


# ---------------------------------------------------------------------------
# host
# ---------------------------------------------------------------------------
def strip_env() -> list[str]:
    """Remove every SPARK_GRAFT_* knob so none silently changes the run."""
    stripped = sorted(k for k in os.environ if k.startswith(ENV_PREFIX))
    for k in stripped:
        del os.environ[k]
    return stripped


def mem_available_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def host_plan() -> dict:
    """Cores from the affinity mask; a driver heap of half the available
    memory, clamped to [1, 3] GiB: the cap keeps the heap, and so the
    measurements, the same across runs unless free memory falls below 6 GiB."""
    cores = len(os.sched_getaffinity(0))
    avail = mem_available_bytes()
    heap_gb = max(1, min(3, int(avail / 2 / 2**30)))
    if heap_gb * 2**30 > avail / 2:
        raise RuntimeError(f"only {avail / 2**30:.1f} GiB available; refusing to start")
    return {"cores": cores, "heap_gb": heap_gb, "mem_available_gb": round(avail / 2**30, 2)}


def _git(*args: str) -> str | None:
    try:
        res = subprocess.run(
            ["git", *args], cwd=REPO, capture_output=True, text=True, timeout=20
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return res.stdout.strip() if res.returncode == 0 else None


def host_facts(plan: dict, stripped: list[str], spark) -> dict:
    # only this checkout's own git metadata, never an enclosing repository's
    own = _git("rev-parse", "--show-toplevel") == str(REPO)
    sha = _git("rev-parse", "HEAD") if own else None
    dirty = _git("status", "--porcelain") if own else None
    return {
        "cpus": plan["cores"],
        "mem_available_gb": plan["mem_available_gb"],
        "driver_heap_gb": plan["heap_gb"],
        "python": platform.python_version(),
        "git_sha": sha or "unknown (not a git checkout)",
        "git_dirty": None if dirty is None else bool(dirty),
        "stripped_env": stripped,
        "spark": spark.version,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
    }


def source_hash(*dirs: Path) -> str:
    """sha256 over the *.py and *.parquet files under the given directories,
    in sorted path order."""
    h = hashlib.sha256()
    files = [f for d in dirs for f in d.rglob("*") if f.suffix in (".py", ".parquet") and f.is_file()]
    for f in sorted(files):
        h.update(str(f.relative_to(REPO)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def dir_bytes(path: Path) -> tuple[int, int]:
    """(bytes, files) under path, excluding hidden and _-prefixed files."""
    total = n = 0
    for f in path.rglob("*"):
        if f.is_file() and not f.name.startswith((".", "_")):
            total += f.stat().st_size
            n += 1
    return total, n


# ---------------------------------------------------------------------------
# seeded, keyed input cache
# ---------------------------------------------------------------------------
def corpus_key(params: dict, seed: int) -> str:
    """Generator parameters + seed + the generator's source: a change to
    sources/documents.py never reuses a stale corpus."""
    gen = REPO / "osm_to_netex_spark" / "sources" / "documents.py"
    blob = json.dumps({"params": params, "seed": seed}, sort_keys=True).encode()
    return hashlib.sha256(blob + gen.read_bytes()).hexdigest()[:20]


def corpus_root(name: str, params: dict, seed: int) -> Path:
    return WORK / "corpora" / f"{name}-{corpus_key(params, seed)}"


def stored_corpus(name: str, params: dict, seed: int) -> tuple[str, dict] | None:
    """(path, meta) of the stored corpus for (params, seed), or None when it
    has not been generated; meta records the generation time synth_s."""
    root = corpus_root(name, params, seed)
    meta_path = root / "meta.json"
    if not meta_path.exists():
        return None
    return str(root / "docs"), json.loads(meta_path.read_text())


def generate_corpus(spark, name: str, params: dict, seed: int) -> None:
    """Generate and store the corpus for (params, seed) with
    sources.documents.synthesize_corpus."""
    from osm_to_netex_spark.sources import documents as docs_src

    root = corpus_root(name, params, seed)
    tmp = root.with_name(root.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.perf_counter()
    corpus = docs_src.synthesize_corpus(spark, seed=seed, **params)
    docs_src.write_documents(corpus, str(tmp / "docs"), partitions=2 * spark.sparkContext.defaultParallelism)
    synth_s = time.perf_counter() - t0
    meta = {"params": params, "seed": seed, "synth_s": synth_s}
    (tmp / "meta.json").write_text(json.dumps(meta))
    shutil.rmtree(root, ignore_errors=True)
    tmp.rename(root)


# ---------------------------------------------------------------------------
# Spark session lifecycle
# ---------------------------------------------------------------------------
def spark_conf(plan: dict, event_log_dir: Path | None) -> dict:
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": f"{plan['heap_gb']}g",
        "spark.local.dir": str(tmp),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.eventLog.enabled": "false",
    }
    if event_log_dir is not None:
        event_log_dir.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_spark(plan: dict, event_log_dir: Path | None = None):
    """Fresh local[n] session via the program's session factory."""
    from osm_to_netex_spark.session import get_spark

    os.environ["TMPDIR"] = str(WORK / "tmp")
    spark = get_spark(
        app_name="perfbench", cores=plan["cores"], extra_conf=spark_conf(plan, event_log_dir)
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _proc_stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:  # the process ended while the tree was walked
        return None


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant (the Spark JVM, its task, JIT and GC threads, any Python
    workers), including their waited-for children.  Time the hypervisor
    steals from the guest's CPUs is not charged to any process, so this
    counts the work done, not the wait for a CPU."""
    tick = os.sysconf("SC_CLK_TCK")
    children: dict[int, list[int]] = {}
    stats = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit() and (st := _proc_stat(int(entry))) is not None:
            stats[int(entry)] = st
            children.setdefault(int(st[1]), []).append(int(entry))  # st[1] is the parent pid
    t = os.times()
    total = t.user + t.system + t.children_user + t.children_system
    todo = list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        st = stats[pid]
        total += sum(int(x) for x in st[11:15]) / tick  # utime stime cutime cstime
        todo.extend(children.get(pid, []))
    return total


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM (the gateway process), in MiB."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing")


def stop_spark(spark) -> None:
    """Stop the session and wait until the gateway JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the gateway exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


@contextmanager
def job_group(spark, name: str):
    """Tag every Spark job started inside the block with a job group, so the
    event-log fold can attribute its stages and tasks to this layer."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def materialize(df) -> None:
    """Compute every column of every row and discard it (noop sink)."""
    df.write.format("noop").mode("overwrite").save()


def planning_ms(df) -> dict:
    """Catalyst phase durations of a DataFrame's own query, from its
    QueryPlanningTracker (analysis, optimization, physical planning).  An
    action run through a writer plans a separate query, so the physical
    plan is forced here; after a collect() it is already built."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()

    def ms(name: str) -> float:
        opt = phases.get(name)
        return float(opt.get().durationMs()) if opt.isDefined() else 0.0

    return {
        "plan.analysis_ms": ms("analysis"),
        "plan.optimize_ms": ms("optimization"),
        "plan.physical_ms": ms("planning"),
    }


def rdd_storage_bytes(spark) -> int:
    """Memory + disk bytes of every cached RDD block right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


def emit(line_obj: dict) -> None:
    print(json.dumps(line_obj, sort_keys=False), flush=True)


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)
