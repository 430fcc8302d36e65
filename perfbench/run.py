"""Benchmark entry point; run it from the repository root:

    python3 perfbench/run.py --workload flagship_pip --seed 1 --seconds 15 --trace 0

--trace 0 times operations back to back in a fresh local[n] Spark JVM,
the first of them cold as a batch job runs it, and reports the end-to-end
metrics; --trace 1 runs the per-layer decomposition
with Spark's event log on and reports the per-layer metrics.  Either way a
human-readable report comes first and the last stdout line is one JSON
object {"correct", "attempted", "failed", "metrics"}.  The exit code is 1
when any output check failed and 2 when the checkout lacks the program.
"""

from __future__ import annotations

import argparse
import importlib
import json
import shutil
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import eventlog  # noqa: E402
import harness  # noqa: E402
import parity  # noqa: E402
from harness import REPO, WORK  # noqa: E402
from workloads import LAYER_TIMES, WORKLOADS, Tracer  # noqa: E402

REQUIRED = ("osm_to_netex_spark/__init__.py", "bench.py", "tests/fixtures/convert_corpus.parquet")


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="length of the timed window")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare(plan, wl_cls, seed: int) -> tuple[str, dict]:
    """The seeded corpus and the parity verdict, made on a cache miss in a
    Spark session of their own: the measured session then starts equally
    cold whether or not they were cached (generating in it would warm its
    JIT and make the first operation ~20 % faster)."""
    name, params = wl_cls.corpus_name, wl_cls.corpus
    need_corpus = harness.stored_corpus(name, params, seed) is None
    need_parity = not parity.stored_path().exists()
    if need_corpus or need_parity:
        harness.log("preparing inputs in a session of their own")
        spark = harness.start_spark(plan)
        try:
            if need_corpus:
                harness.generate_corpus(spark, name, params, seed)
            if need_parity:
                parity.compute(spark)
        finally:
            harness.stop_spark(spark)
    return harness.stored_corpus(name, params, seed)


def timed(wl, spark, tally, setup: dict, seconds: float) -> tuple[dict, list[str]]:
    cpu = []

    def op():
        c0 = harness.tree_cpu_s()
        out = wl.op()
        cpu.append(harness.tree_cpu_s() - c0)
        return out

    samples = harness.measure(op, wl.check, seconds, 1, tally, "op")
    if len(samples) < tally.attempted:
        raise RuntimeError("a timed operation failed; no metric is reported")
    rss = harness.jvm_peak_rss_mb(spark)  # reported, not a metric: GC heap sizing makes it unsteady
    harness.log("verify")
    tally.run("verify", wl.verify)
    job_s, warm = samples[0], samples[1:]
    e2e = {"setup_s": setup["cpu_s"], "job_cpu_s": cpu[0]}
    lines = [f"  {'setup_s':<14} {e2e['setup_s']:>16.4f}  s      n=1 (CPU seconds of the session start)",
             f"  {'job_cpu_s':<14} {e2e['job_cpu_s']:>16.4f}  s      n=1 (CPU seconds of the cold operation)",
             "  wall time, report only:",
             f"  {'setup_wall_s':<14} {setup['wall_s']:>16.4f}  s      n=1",
             f"  {'job_s':<14} {job_s:>16.4f}  s      n=1",
             f"  {'docs_per_s':<14} {wl.n_docs / job_s:>16.4f}  1/s    n=1"]
    if wl.name == "convert_netex":
        z, c = wl.corpus["n_zones"], wl.coords
        lines.append(f"  {'zones_per_s':<14} {z / job_s:>16.4f}  1/s    n=1")
        lines.append(f"  {'coords_per_s':<14} {c / job_s:>16.4f}  1/s    n=1")
    warm_s = statistics.median(warm) if warm else None
    lines.append(f"  {'warm_pass_s':<14} " + (f"{warm_s:>16.4f}  s      n={len(warm)} (median of the later "
                                                "passes in the same JVM; report only)" if warm else
                                                "none: the window held one operation"))
    lines.append(f"  {'peak_rss_mb':<14} {rss:>16.4f}  MiB    n=1 (driver JVM VmHWM; report only)")
    tail = harness.tail_percentile(samples)
    lines.append(
        f"  {'run tail':<14} " + (f"p{tail[0] * 100:g} = {tail[1]:.4f} s" if tail else
                                  f"none: {len(samples)} samples, a tail needs 10 beyond it")
    )
    lines.append(f"  {'samples_s':<14} " + " ".join(f"{s:.3f}" for s in samples))
    last = WORK / "last" / f"{wl.name}.json"
    last.parent.mkdir(parents=True, exist_ok=True)
    last.write_text(json.dumps({"job_s": job_s, "seed": wl.seed, "samples": samples}))
    return e2e, lines


def traced(wl, tr: Tracer, tally, session_s: float, spec: dict) -> dict:
    values = dict.fromkeys((m["name"] for m in spec["per_layer"]), 0.0)
    # the first operation pins the values the layer recomputation must match
    with tr.span("first", parent="run"):
        tally.run("first op", lambda: wl.check(wl.op()))

    def layers():
        values.update(wl.trace(tr))
        return tr.problems

    tally.run("traced layers", layers)
    with tr.span("op", parent="run"):
        out = wl.op()
    tally.run("traced op", lambda: wl.check(out))
    values.update(wl.op_plan(out))
    values["session.start_s"] = session_s
    values["sources.synth_s"] = wl.meta["synth_s"]
    for span, metric in LAYER_TIMES.items():
        values[metric] = tr.seconds(span)
    values["trace.op_s"] = tr.seconds("op")
    values["trace.layers_s"] = sum(tr.seconds(s) for s in LAYER_TIMES)
    values["jvm.peak_rss_mb"] = harness.jvm_peak_rss_mb(tr.spark)
    return values


def fold_events(values: dict, ev_dir: Path, corpus_docs: int) -> dict:
    """Execution metrics of the whole traced operation and of single layers,
    from the event log the traced session wrote."""
    totals = eventlog.fold_dir(ev_dir)
    op = eventlog.group(totals, "op")
    for f in ("jobs", "stages", "tasks", "cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes"):
        values[f"exec.{f}"] = op[f]
    values["sources.bytes_read"] = op["scan_bytes"]
    values["sources.corpus_passes"] = op["scan_records"] / corpus_docs
    values["extract.cpu_s"] = eventlog.group(totals, "extract")["cpu_s"]
    values["assemble.shuffle_write_bytes"] = eventlog.group(totals, "assemble")["shuffle_write_bytes"]
    return totals


def layer_table(tr: Tracer, totals: dict, values: dict, wl_name: str) -> list[str]:
    lines = [f"  {'layer':<15} {'wall_s':>8} {'share':>6} {'cpu_s':>8} {'gc_s':>7} "
             f"{'shuffle_w_B':>12} {'spill_B':>9} {'jobs':>5}"]
    total = values["trace.layers_s"] or 1.0
    for span in [*LAYER_TIMES, "op"]:
        if not any(s["name"] == span for s in tr.spans):
            continue
        g, secs = eventlog.group(totals, span), tr.seconds(span)
        share = f"{secs / total:6.1%}" if span != "op" else "     -"
        lines.append(f"  {span:<15} {secs:>8.3f} {share} {g['cpu_s']:>8.2f} {g['gc_s']:>7.2f} "
                     f"{int(g['shuffle_write_bytes']):>12} {int(g['spill_bytes']):>9} {int(g['jobs']):>5}")
    last = WORK / "last" / f"{wl_name}.json"
    untraced = json.loads(last.read_text()) if last.exists() else None
    first = tr.seconds("first")
    lines.append(
        f"  first (cold) operation with the event log on {first:.3f} s; untraced job_s "
        + (f"{untraced['job_s']:.3f} s (last untraced run in this checkout, seed {untraced['seed']}) → "
           f"event-log overhead plus run-to-run noise {first - untraced['job_s']:+.3f} s" if untraced
           else "unknown (no untraced run in this checkout yet)")
    )
    lines.append(
        f"  traced layers total {values['trace.layers_s']:.3f} s; the whole (warm) operation after them "
        f"{values['trace.op_s']:.3f} s; layer-split overhead "
        f"{values['trace.layers_s'] - values['trace.op_s']:+.3f} s"
    )
    return lines


def main(argv=None) -> int:
    args = parse(argv)
    missing = [p for p in REQUIRED if not (REPO / p).exists()]
    if missing:
        harness.log(f"not a checkout of the program: missing {missing}")
        return 2
    stripped = harness.strip_env()
    plan = harness.host_plan()
    sys.path.insert(0, str(REPO))
    wl_cls = WORKLOADS[args.workload]
    spec = harness.load_spec()
    path, meta = prepare(plan, wl_cls, args.seed)
    for mod in ("pyspark.sql", "osm_to_netex_spark.session", *wl_cls.modules):
        importlib.import_module(mod)  # before the clock starts, cache hit or miss

    ev_dir = None
    if args.trace:
        ev_dir = WORK / "eventlog" / args.workload
        shutil.rmtree(ev_dir, ignore_errors=True)
    tally = harness.Tally()
    harness.log("starting the measured Spark session")
    c0, t0 = harness.tree_cpu_s(), time.perf_counter()
    spark = harness.start_spark(plan, ev_dir)
    spark.range(1).collect()  # the first job's fixed cost belongs to set-up
    setup = {"wall_s": time.perf_counter() - t0, "cpu_s": harness.tree_cpu_s() - c0}
    try:
        wl = wl_cls(spark, args.seed)
        wl.path, wl.meta = path, meta
        tr = Tracer(spark)
        facts = harness.host_facts(plan, stripped, spark)
        harness.log("traced layers" if args.trace else "timed window")
        if args.trace:
            values = traced(wl, tr, tally, setup["wall_s"], spec)
        else:
            values, lines = timed(wl, spark, tally, setup, args.seconds)
        summary = parity.record(tally)
    finally:
        harness.log("stopping Spark")
        harness.stop_spark(spark)
    harness.log("stopped")

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}")
    print("host " + json.dumps(facts))
    print("parity " + json.dumps(summary))
    if args.trace:
        totals = fold_events(values, ev_dir, wl.n_docs)
        spans = WORK / "spans" / f"{args.workload}-{args.seed}.json"
        spans.parent.mkdir(parents=True, exist_ok=True)
        spans.write_text(json.dumps(tr.spans))
        print("per-layer (traced run; each layer materialised before the next):")
        print("\n".join(layer_table(tr, totals, values, args.workload)))
        metrics = harness.metrics_block(spec, "per_layer", values)
        print("\n".join(f"  {k:<30} {v['value']:>18.4f}  {v['unit']}" for k, v in metrics.items()))
    else:
        print("end-to-end:")
        print("\n".join(lines))
        metrics = harness.metrics_block(spec, "end_to_end", values)
    print(f"  failed_frac {tally.failed_frac:.4f} ({tally.failed} of {tally.attempted} operations)")
    for r in tally.reasons:
        print(f"  FAILED {r}")
    harness.emit({"correct": tally.failed == 0, "attempted": tally.attempted,
                  "failed": tally.failed, "metrics": metrics})
    return 0 if tally.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
