"""Plan-quality audit: capture `.explain("formatted")` for the headline
queries and assert the physical-plan properties the 100 TB design depends on.

Checks per query (see CHECKS):
  * parquet scans carry PushedFilters / pruned ReadSchema where expected;
  * dimension joins are BroadcastHashJoin (no accidental SMJ of a tiny side);
  * the hot path stays inside WholeStageCodegen;
  * no row-at-a-time Python (`BatchEvalPython`) anywhere — the only Python
    operator in the engine is the Arrow-batched media decode (ArrowEvalPython
    / MapInPandas are the allowed nodes).

Writes PLANS.md with the formatted plans so reviewers can read what actually
executes.  Exits nonzero if any assertion fails.

Usage: python tools/explain_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from osm_to_netex_spark.session import get_spark  # noqa: E402


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# query name -> (must_contain, must_not_contain).  "[codegen id" is how
# formatted explain marks operators inside a WholeStageCodegen stage; a scan
# whose ReadSchema lists only the consumed columns proves column pruning
# reached parquet; PushedFilters is only asserted where a pushable predicate
# exists in the query.
CHECKS = {
    "tile_assign": (
        ["[codegen id", "ReadSchema: struct<c_custkey:bigint>"],
        ["BatchEvalPython", "Exchange hash"],
    ),
    "pip": (["BroadcastHashJoin", "[codegen id"], ["BatchEvalPython"]),
    # knn's BroadcastHashJoin here is the planner's own size-based choice at
    # sf0.001 (auto threshold), NOT a forced hint — the query/operator carry
    # no broadcast on the stop side since round 2
    # (tests/test_spatial_ops.py::test_knn_cell_join_plan_has_no_broadcast)
    "knn": (["BroadcastHashJoin", "PushedFilters"], ["BatchEvalPython", "CartesianProduct"]),
    "assemble_poslist": (["[codegen id"], ["BatchEvalPython", "CartesianProduct"]),
    "dedup_exact": (["HashAggregate", "[codegen id"], ["BatchEvalPython", "Sort "]),
    "minhash_lsh_pairs": (["[codegen id"], ["BatchEvalPython", "CartesianProduct"]),
    "textstats": (
        ["[codegen id", "ReadSchema: struct<doc_id:bigint,text:string"],
        ["BatchEvalPython", "Exchange"],
    ),
    "embedding_topk_ivf": (["BroadcastNestedLoopJoin", "Window"], ["BatchEvalPython"]),
    "events_window": (["HashAggregate", "[codegen id"], ["BatchEvalPython", "SortAggregate"]),
    # (the only Exchange in this plan is the scalar-subquery count() used by
    # the shared geometry derivation's density normalizer, not the cover)
    "polyfill_refined": (["[codegen id", "Generate"], ["BatchEvalPython", "CartesianProduct"]),
    "cell_rollup": (["HashAggregate", "[codegen id"], ["BatchEvalPython", "CartesianProduct"]),
    "events_sessionize": (["Window", "HashAggregate"], ["BatchEvalPython", "CartesianProduct"]),
    # documents→NeTEx conversion: span explode + JSON projection + J2 join +
    # ordered re-agg, all JVM-side (the whole reference pipeline, no Python)
    "convert_tariffzone": (["[codegen id", "Generate"], ["BatchEvalPython"]),
    # the cell-join PIP strategy carries no broadcast HINT; at this sf the
    # planner may still auto-broadcast the small side (size-based), so only
    # the absence of Python/cartesian is asserted here — the no-hint property
    # is pinned by tests/test_spatial_ops.py
    "pip_celljoin": (["[codegen id"], ["BatchEvalPython", "CartesianProduct"]),
    # merge-form as-of join: union + window — NO join node of any kind
    "events_asof": (["Window"], ["Join", "BatchEvalPython"]),
    "zone_stats": (["[codegen id"], ["BatchEvalPython", "CartesianProduct"]),
    "hll_distinct": (["HashAggregate"], ["BatchEvalPython", "CartesianProduct"]),
    # hash-range split/sample: pure projection/filter — shuffle-free
    "stratified_sample": (["[codegen id"], ["Exchange", "BatchEvalPython"]),
    # bucketed interval join: must plan as an equi-join, never cartesian/BNLJ
    "range_join": (
        ["HashAggregate"],
        ["BatchEvalPython", "CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "cms_frequencies": (["HashAggregate"], ["BatchEvalPython", "CartesianProduct"]),
    # global top-k must be TakeOrderedAndProject (per-partition top-k + driver
    # merge), never a full Sort; df/stats sides are broadcast
    "bm25_topk": (
        ["TakeOrderedAndProject", "BroadcastHashJoin"],
        ["BatchEvalPython", "CartesianProduct"],
    ),
    # overlap join: cell equi-join prefilter — the exact predicate must never
    # drive a cartesian/BNLJ plan.  The candidate-pair distinct sits behind
    # a lazy localCheckpoint barrier (operators/overlap.py), so explain shows
    # it as a Scan ExistingRDD; the two ring join-backs are broadcast
    "poly_overlap": (
        ["[codegen id", "Scan ExistingRDD", "BroadcastHashJoin"],
        ["BatchEvalPython", "CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # curation composes 4 stages into one plan — everything stays JVM-side
    "curate_corpus": (["HashAggregate", "[codegen id"], ["BatchEvalPython"]),
    # compaction: per-level window shuffles, no joins, no Python
    "cover_compact": (["Window", "[codegen id"], ["BatchEvalPython", "CartesianProduct"]),
    # pagerank: T iterations of join+agg, all JVM-side
    "pagerank": (
        ["HashAggregate", "[codegen id"],
        ["BatchEvalPython", "CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # per-stratum weighted reservoir: one window shuffle, no joins
    "weighted_sample": (["Window", "[codegen id"], ["BatchEvalPython", "CartesianProduct"]),
    # snap join: cell equi-join + partial-agg struct-min argmin (map-side
    # combine; no Window sort of the candidate set) — never cartesian/BNLJ
    "snap_join": (
        ["HashAggregate", "[codegen id"],
        ["BatchEvalPython", "CartesianProduct", "BroadcastNestedLoopJoin", "Window"],
    ),
    # vocab heavy hitters: partial agg before the shuffle, window over vocab
    "top_terms": (["HashAggregate", "Window"], ["BatchEvalPython", "CartesianProduct"]),
    # geohash: pure projection — no shuffle at all
    "geohash": (["[codegen id"], ["Exchange", "BatchEvalPython"]),
    # adaptive partition: count aggs + equi-joins, no cartesian
    "adaptive_cells": (
        ["HashAggregate", "[codegen id"],
        ["BatchEvalPython", "CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # IDW: ring-join candidates + one agg; Python never
    "idw": (["HashAggregate", "[codegen id"], ["BatchEvalPython"]),
    # depth-K DP: K rounds of groupBy argmax — no joins, no Python
    "simplify": (
        ["HashAggregate", "[codegen id"],
        ["BatchEvalPython", "CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # trips: one window + one agg, no joins
    "trips": (["Window", "HashAggregate"], ["BatchEvalPython", "Join", "CartesianProduct"]),
    # bloom: bit table broadcast into the probe join
    "bloom": (
        ["BroadcastHashJoin", "HashAggregate"],
        ["BatchEvalPython", "CartesianProduct"],
    ),
    # decontamination: the eval shingle set must be the broadcast side; the
    # train corpus is never cartesian-joined or shuffled through Python
    "decontaminate": (
        ["BroadcastHashJoin", "HashAggregate"],
        ["BatchEvalPython", "CartesianProduct"],
    ),
    # repetition filters: two partial aggs, argmax via struct-max — no window
    "repetition": (
        ["HashAggregate", "[codegen id"],
        ["BatchEvalPython", "CartesianProduct", "Window"],
    ),
    # polyline crossing: cell equi-join prefilter — exact predicate must
    # never drive a cartesian/BNLJ plan
    "line_intersect": (
        ["HashAggregate", "[codegen id"],
        ["BatchEvalPython", "CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # density smoothing: two partial-agg shuffles over cells — no joins
    "smooth_density": (
        ["HashAggregate", "[codegen id"],
        ["BatchEvalPython", "CartesianProduct", "Join"],
    ),
    # dbscan: radius_join + CC loop (the BNLJ that appears is radius_join's
    # degenerate-strip fallback, broadcast of a provably tiny side)
    "dbscan": (["HashAggregate", "[codegen id"], ["BatchEvalPython", "CartesianProduct"]),
    # chunk packing: posexplode + ONE window on doc_id — no joins at all
    "chunk_spans": (
        ["Window", "Generate"],
        ["BatchEvalPython", "Join", "CartesianProduct"],
    ),
    # OLS trend: window min + agg on the same key — ONE exchange, no joins
    "trend_fit": (
        ["Window", "HashAggregate"],
        ["BatchEvalPython", "Join", "CartesianProduct"],
    ),
    # HLL set algebra: register aggs + constant-size (256-row) merges
    "hll_setops": (["HashAggregate"], ["BatchEvalPython", "CartesianProduct"]),
    # grid BFS: per-round cell-keyed aggs/anti-joins; the printed plan is the
    # post-localCheckpoint tail (per-round plans are deliberately truncated
    # to stay linear in K), so only the no-Python/no-cartesian property is
    # assertable here
    "grid_bfs": ([], ["BatchEvalPython", "CartesianProduct"]),
    # funnel: chained conditional mins — stage filters must reach the scan
    "funnel": (
        ["HashAggregate", "PushedFilters"],
        ["BatchEvalPython", "CartesianProduct"],
    ),
    # gap fill: bucket agg + sequence-explode grid + two group-keyed windows
    "gap_fill": (
        ["HashAggregate", "Window", "Generate"],
        ["BatchEvalPython", "CartesianProduct"],
    ),
    # histogram quantiles: bucket-count agg + cumsum window over buckets
    "hist_quantiles": (
        ["HashAggregate", "Window"],
        ["BatchEvalPython", "CartesianProduct"],
    ),
    # anomaly: stats agg broadcast back into the probe scan — no wide shuffle
    "anomaly": (
        ["HashAggregate", "BroadcastHashJoin"],
        ["BatchEvalPython", "CartesianProduct"],
    ),
    # PII redaction: pure projection — no shuffle at all
    "redact_pii": (["[codegen id"], ["Exchange hash", "BatchEvalPython"]),
    # winsorize: percentile agg broadcast into the probe scan
    "winsorize": (
        ["HashAggregate", "BroadcastHashJoin"],
        ["BatchEvalPython", "CartesianProduct"],
    ),
    # incremental rollup: partial rollups + merge groupBys, all JVM-side
    "incremental_rollup": (
        ["HashAggregate"],
        ["BatchEvalPython", "CartesianProduct"],
    ),
    # corridor join: cell equi-join, never cartesian/BNLJ
    "corridor_join": (
        ["[codegen id"],
        ["BatchEvalPython", "CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # BPE pairs: vocab-level aggs; global top-n must be TakeOrderedAndProject
    "bpe_pairs": (
        ["TakeOrderedAndProject", "HashAggregate"],
        ["BatchEvalPython", "CartesianProduct"],
    ),
    # CDC apply: ONE struct-max agg (SortAggregate — struct keys aren't
    # hash-aggregable — but still PARTIAL before the exchange, i.e.
    # map-side combined); no window sort of the log
    "cdc_apply": (
        ["SortAggregate", "partial_max"],
        ["BatchEvalPython", "CartesianProduct", "Window"],
    ),
    # SCD2: one window per key
    "scd2": (["Window"], ["BatchEvalPython", "CartesianProduct", "Join"]),
    # triangles: equi-joins only — the ordered wedge join must never
    # degenerate to cartesian/BNLJ
    "triangles": (
        ["HashAggregate"],
        ["BatchEvalPython", "CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # equal-frequency binning: one window per type, no joins
    "eqfreq_bins": (["Window"], ["BatchEvalPython", "Join", "CartesianProduct"]),
    # cohort: two keyed aggs + one equi-join
    "cohort": (["HashAggregate"], ["BatchEvalPython", "CartesianProduct"]),
    # transitions: one window + combined count, no joins
    "transitions": (
        ["Window", "HashAggregate"],
        ["BatchEvalPython", "Join", "CartesianProduct"],
    ),
    # fuzzy linkage: the length-band predicate is non-equi, so the dictionary
    # join is a broadcast nested loop (dictionary side broadcast — the probe
    # corpus never moves); argmin is a map-side-combined HashAggregate
    "fuzzy_match": (
        ["BroadcastNestedLoopJoin", "HashAggregate"],
        ["BatchEvalPython", "CartesianProduct", "SortMergeJoin"],
    ),
    # skyline: distinct-first agg + two windows (in-bucket partitioned, tiny
    # summary prefix); extent/summary cross joins are broadcast 1-row/64-row
    "skyline": (
        ["Window", "HashAggregate"],
        ["BatchEvalPython", "CartesianProduct"],
    ),
    # interval dissolve: ONE keyed shuffle, two frames on one sort, no joins
    "interval_merge": (
        ["Window", "HashAggregate"],
        ["BatchEvalPython", "Join", "CartesianProduct"],
    ),
    # a-priori pairs: equi self-join on the basket key + broadcast singleton
    # supports; the 1-row basket count is a broadcast BNLJ (allowed)
    "frequent_pairs": (
        ["BroadcastHashJoin", "HashAggregate"],
        ["BatchEvalPython", "CartesianProduct"],
    ),
    # token drift: explode scan + tiny-dimension grid joins
    "token_drift": (
        ["HashAggregate", "Generate"],
        ["BatchEvalPython", "CartesianProduct"],
    ),
    # SSSP: K rounds of equi-join + min-agg, checkpointed, all JVM-side
    "sssp": (
        ["HashAggregate"],
        ["BatchEvalPython", "CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # star rollup: all-equi snowflake joins — BNLJ/cartesian would be a bug
    "star_rollup": (
        ["BroadcastHashJoin", "HashAggregate"],
        ["BatchEvalPython", "CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
}


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    # AQE stays ON in production (session.py); it is disabled HERE only so
    # explain("formatted") prints the fully-resolved static plan with
    # [codegen id] annotations instead of an unexecuted AdaptiveSparkPlan
    spark = get_spark(
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.adaptive.enabled": "false",
        },
    )
    from osm_to_netex_spark.plans import queries as Q

    failures = []
    sections = []
    for name, (need, forbid) in CHECKS.items():
        builder, _ = Q.QUERIES[name]
        plan = formatted_plan(builder(spark, sf_dir))
        for frag in need:
            if frag not in plan:
                failures.append(f"{name}: missing {frag!r}")
        for frag in forbid:
            if frag in plan:
                failures.append(f"{name}: forbidden {frag!r} present")
        status = "OK" if not any(f.startswith(name + ":") for f in failures) else "FAIL"
        print(f"{name:24s} {status}")
        sections.append(f"## {name}\n\n```\n{plan.strip()}\n```\n")

    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write(
            f"# Physical plans — headline queries (sf0.001, {spark.sparkContext.master})\n\n"
            "Generated by `python tools/explain_plans.py`; assertions in the\n"
            "same file gate pushdown / broadcast / codegen / no-row-Python.\n\n"
            + "\n".join(sections)
        )
    spark.stop()
    if failures:
        print("\nPLAN AUDIT FAILURES:")
        for f in failures:
            print(" -", f)
        sys.exit(1)
    print("\nALL PLAN CHECKS PASS — PLANS.md written")


if __name__ == "__main__":
    main()
