"""Bench-before-ship guard: time named registry queries standalone.

Usage:
    python tools/bench_query.py <sf_dir> <name> [<name> ...]

Times each query with bench.time_query, the timer of bench.py's per-query
rows (warm run compiles codegen, then one timed fresh plan materialised to
a noop sink; caller-owned caches released between runs), so a reading here
predicts the full-bench row; its session keeps the JDK's JIT defaults, as
the bench's do.  Landing recipe step: no operator ships
without a recorded timing from this tool at sf0.1 — lsh_band_stats reached
the round-3 benchmark at 172.7 s because the last five commits never saw a
bench (VERDICT r3 "What's wrong" #1/#2).

Budget: warn when a query exceeds BUDGET seconds (15 s — generous; the
production median at sf0.1 is <1 s) and exit nonzero so CI/recipe checks
fail loudly.  Runs on every CPU of the affinity mask; use `taskset` to
run on fewer.  Each query's name is printed, flushed, before it is timed,
so a run that stalls names the stalled query.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import JDK_JIT, time_query  # noqa: E402
from osm_to_netex_spark.session import get_spark  # noqa: E402

BUDGET = 15.0


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__)
        return 2
    sf_dir, names = sys.argv[1], sys.argv[2:]

    spark = get_spark(extra_conf={"spark.ui.showConsoleProgress": "false", **JDK_JIT})
    from osm_to_netex_spark.plans import queries as Q

    timings: dict[str, float] = {}
    over: list[str] = []
    for name in names:
        if name not in Q.QUERIES and name not in Q.ROWS_ONLY:
            print(f"{name:26s} UNKNOWN (not in registry)", flush=True)
            over.append(name)
            continue
        builder = Q.QUERIES[name][0] if name in Q.QUERIES else Q.ROWS_ONLY[name]
        print(f"{name:26s} ...", flush=True)
        dt = round(time_query(spark, builder, sf_dir), 3)
        timings[name] = dt
        flag = "  OVER-BUDGET" if dt > BUDGET else ""
        print(f"{name:26s} {dt:8.3f} s{flag}", flush=True)
        if dt > BUDGET:
            over.append(name)
    spark.stop()
    print(json.dumps({"sf_dir": sf_dir, "budget_s": BUDGET, "timings": timings}), flush=True)
    return 1 if over else 0


if __name__ == "__main__":
    raise SystemExit(main())
