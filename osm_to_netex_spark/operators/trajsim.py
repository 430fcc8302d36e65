"""Trajectory similarity joins: all track pairs within a Hausdorff, DTW,
discrete-Fréchet or EDR bound.

The fleet/mobility workload PIP/kNN don't cover: "which vehicle tracks follow
(almost) the same route?" — near-duplicate ROUTE detection, the spatial
sibling of the text near-dup family in dedup.py.  North-rule engine surface;
the reference never compares geometries (SURVEY §2.1 negative findings).

Hausdorff: symmetric discrete Hausdorff distance over the trajectory fixes,
H(A,B) = max( max_a min_b d(a,b), max_b min_a d(a,b) ) with the exact
haversine point metric — every term is the same correctly-rounded IEEE chain
in Spark and DuckDB, so H is bit-identical and the join is value-hash-gated.
DTW, Fréchet and EDR are unrolled integer DPs over fixed-length tracks.

Scale design (the overlap.py prefilter, adapted to a distance bound), one
path for all four metrics (``_similarity_join``):

* trajectories collapse to ONE row each — (id, las, los) coordinate arrays
  ordered by step (order carried in data, J2 discipline) plus a bbox;
* candidate pairs share a quad cell between A's R-PADDED bbox cover and B's
  unpadded bbox cover (``tiling.quad_bbox_cover``, whose docstring holds
  the padding argument).  Complete: each metric <= R implies some fix of B
  lies within R of some fix of A (for H, B's first fix; for the DPs, the
  (1,1) cell or a matched step), hence inside A's padded bbox, hence B's
  bbox meets it.  Pair volume is O(nearby-track pairs), never O(n²);
* pairs are distinct-ed on (id_a, id_b) BEFORE the exact evaluation and the
  coordinate arrays join back afterwards — the O(|A|·|B|)-per-pair metric
  runs once per candidate and the arrays stay off the candidate shuffle;
* the exact metric <= R filter restores precision.

Fan-out is bbox-cover cells at ``res`` — pick the cell edge ≈ R (the
radius_join rule).  Trajectories are assumed bounded (segment unbounded GPS
streams with chunking/sessionize first — the mapmatch.py note).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F

from ..functions import geo
from ..functions.portable import DUCK, SPARK, flit, haversine_m, let_
from .dedup import _attach_cached
from .tiling import quad_bbox_cover

# the per-track coordinate arrays of every DuckDB replay (brute all-pairs
# over them proves the padded-cover prefilter complete)
_ROWS_CTE = """rows_ as (
            select {traj_id} as tid,
                   list(lat order by {step_col}) as las,
                   list(lon order by {step_col}) as los
            from tr group by {traj_id}
        )"""


def _similarity_join(
    trajs: DataFrame,
    pad_deg: float,
    res: int,
    traj_id: str,
    step_col: str,
    metric: str,
    col: str,
    bound: float,
    out: str | None = None,
) -> DataFrame:
    """(traj_a, traj_b, ``out`` or ``col``) for every unordered track pair
    (traj_a < traj_b) whose ``metric`` over las_a/los_a/las_b/los_b, named
    ``col``, is <= ``bound``; candidates from the ``pad_deg``-padded cover."""
    rows = trajs.groupBy(traj_id).agg(
        F.expr(
            f"transform(array_sort(collect_list(struct({step_col} as s, lat as v))), x -> x.v)"
        ).alias("las"),
        F.expr(
            f"transform(array_sort(collect_list(struct({step_col} as s, lon as v))), x -> x.v)"
        ).alias("los"),
        F.min("lat").alias("la0"), F.max("lat").alias("la1"),
        F.min("lon").alias("lo0"), F.max("lon").alias("lo1"),
    ).persist()  # consumed by both cover sides + the refine join back

    # a pad wider than 64 lat cells per side is coarsened until it is not:
    # a world-wide pad (max_dist_m=1e9) would cover all 16.7M res-12 cells of
    # every track; coarser cells keep the cover complete and the refine exact
    while res > 0 and pad_deg * 2**res > 64 * 180.0:
        res -= 1
    bbox = ("la0", "la1", "lo0", "lo1")
    a_cells = quad_bbox_cover(rows, [traj_id], bbox, res, pad_deg, "__cell")
    b_cells = quad_bbox_cover(rows, [traj_id], bbox, res, 0.0, "__cell")
    cand = (
        a_cells.withColumnRenamed(traj_id, "ta")
        .join(b_cells.withColumnRenamed(traj_id, "tb"), "__cell")
        .where("ta < tb")
        .select("ta", "tb")
        .distinct()
    )
    a = rows.selectExpr(f"{traj_id} as ta", "las as las_a", "los as los_a")
    b = rows.selectExpr(f"{traj_id} as tb", "las as las_b", "los as los_b")
    result = (
        cand.join(a, "ta")
        .join(b, "tb")
        .selectExpr("ta", "tb", f"{metric} as {col}")
        .where(F.col(col) <= F.lit(bound))
        .selectExpr("ta as traj_a", "tb as traj_b", out or col)
    )
    return _attach_cached(result, [rows])


def hausdorff_expr(las_a: str, los_a: str, las_b: str, los_b: str, d: str) -> str:
    """Symmetric discrete Hausdorff distance between coordinate arrays, as
    one dialect-portable expression (nested HOFs over the fix arrays)."""
    dist = haversine_m("a_la", "a_lo", "b_la", "b_lo", d)

    def directed(las1, los1, las2, los2, v1, v2):
        inner = dist.replace("a_la", f"{las1}[{v1}]").replace(
            "a_lo", f"{los1}[{v1}]"
        ).replace("b_la", f"{las2}[{v2}]").replace("b_lo", f"{los2}[{v2}]")
        if d == SPARK:
            # Spark [] is 0-based
            mins = (
                f"transform(sequence(0, size({las1}) - 1), {v1} -> "
                f"array_min(transform(sequence(0, size({las2}) - 1), {v2} -> {inner})))"
            )
            return f"array_max({mins})"
        mins = (
            f"list_transform(generate_series(1, len({las1})), {v1} -> "
            f"list_min(list_transform(generate_series(1, len({las2})), {v2} -> {inner})))"
        )
        return f"list_max({mins})"

    ab = directed(las_a, los_a, las_b, los_b, "__ha", "__hb")
    ba = directed(las_b, los_b, las_a, los_a, "__hc", "__hd")
    return f"greatest({ab}, {ba})"


def hausdorff_join(
    trajs: DataFrame,
    radius_m: float,
    res: int = 12,
    traj_id: str = "traj_id",
    step_col: str = "step",
) -> DataFrame:
    """(traj_a, traj_b, h_m) for every unordered pair with symmetric
    Hausdorff distance <= ``radius_m`` (traj_a < traj_b)."""
    h = hausdorff_expr("las_a", "los_a", "las_b", "los_b", SPARK)
    return _similarity_join(
        trajs, radius_m / geo.M_PER_DEG, res, traj_id, step_col,
        h, "h_m", float(radius_m), "round(h_m, 6) as h_m",
    )


def hausdorff_join_oracle_sql(
    trajs_sql_text: str,
    radius_m: float,
    traj_id: str = "traj_id",
    step_col: str = "step",
) -> str:
    """DuckDB replay: brute all-pairs over the collected arrays (proves the
    padded-cover prefilter complete), identical Hausdorff expression."""
    h = hausdorff_expr("a.las", "a.los", "b.las", "b.los", DUCK)
    rows_cte = _ROWS_CTE.format(traj_id=traj_id, step_col=step_col)
    return f"""
        with tr as ({trajs_sql_text}),
        {rows_cte}
        select a.tid as traj_a, b.tid as traj_b, round({h}, 6) as h_m
        from rows_ a join rows_ b on a.tid < b.tid
        where ({h}) <= {flit(radius_m)}"""


# ---------------------------------------------------------------------------
# DTW / discrete Fréchet / EDR: unrolled DPs over fixed-length tracks
# ---------------------------------------------------------------------------
def _el(arr: str, i: int, d: str) -> str:
    """1-based array element in either dialect."""
    return f"{arr}[{i - 1}]" if d == SPARK else f"{arr}[{i}]"


def _dp_stages(n_steps: int, d: str, cost, recur) -> list[list[str]]:
    """Unrolled DP over fixed-length tracks, as chained '<expr> as <name>'
    stages (each stage's expressions reference only earlier stages — the
    map_match materialized-CTE discipline, applied to BOTH engines so every
    op is identical text).

    Stage 0 is the n×n cost matrix ``c_i_j`` = ``cost(mm)``, mm the
    round(mm) haversine between fix i of A and fix j of B — ONE
    quantization per cell, after which the whole DP is bigint: integer-exact,
    no IEEE ordering concerns.  Stages 1..2n-1 fill the dp anti-diagonals
    (cells on a diagonal depend only on earlier diagonals) with
    dp_i_j = ``recur(i, j)``; the last holds dp_n_n alone."""
    dist = haversine_m("__a_la", "__a_lo", "__b_la", "__b_lo", d)
    n = int(n_steps)
    stage0 = []
    for i in range(1, n + 1):
        for j in range(1, n + 1):
            h = (
                dist.replace("__a_la", _el("las_a", i, d))
                .replace("__a_lo", _el("los_a", i, d))
                .replace("__b_la", _el("las_b", j, d))
                .replace("__b_lo", _el("los_b", j, d))
            )
            stage0.append(f"{cost(f'cast(round(({h}) * 1000.0e0) as bigint)')} as c_{i}_{j}")
    stages = [stage0]
    for diag in range(2, 2 * n + 1):  # i + j = diag
        stages.append([
            f"{recur(i, diag - i)} as dp_{i}_{diag - i}"
            for i in range(max(1, diag - n), min(n, diag - 1) + 1)
        ])
    return stages


def _min_path(combine):
    """Recurrence dp_i_j = combine(c_i_j, least of the dp neighbours
    (i-1, j), (i, j-1), (i-1, j-1) that exist); dp_1_1 = c_1_1."""

    def recur(i: int, j: int) -> str:
        nb = [
            f"dp_{a}_{b}" for a, b in ((i - 1, j), (i, j - 1), (i - 1, j - 1)) if a and b
        ]
        if not nb:
            return f"c_{i}_{j}"
        return combine(f"c_{i}_{j}", nb[0] if len(nb) == 1 else f"least({', '.join(nb)})")

    return recur


def dtw_stage_exprs(n_steps: int, d: str) -> list[list[str]]:
    """DTW DP: dp_i_j = c_i_j + least(dp_{i-1}_j, dp_i_{j-1}, dp_{i-1}_{j-1})."""
    return _dp_stages(n_steps, d, lambda mm: mm, _min_path(lambda c, p: f"{c} + {p}"))


def frechet_stage_exprs(n_steps: int, d: str) -> list[list[str]]:
    """Discrete Fréchet DP — DTW's recurrence with ``+`` swapped for max:
    dp_i_j = greatest(c_i_j, least(dp_{i-1}_j, dp_i_{j-1}, dp_{i-1}_{j-1})),
    borders chain through greatest.  Bigint min/max — exact."""
    return _dp_stages(
        n_steps, d, lambda mm: mm, _min_path(lambda c, p: f"greatest({c}, {p})")
    )


def edr_stage_exprs(n_steps: int, eps_mm: int, d: str) -> list[list[str]]:
    """EDR (Edit Distance on Real sequence, Chen et al. 2005) DP — DTW's
    robust sibling: a single wild GPS outlier adds its full distance to DTW
    but costs EDR exactly 1 edit, so EDR ranks noisy tracks the way DTW
    ranks clean ones.

    The cost matrix thresholds each mm-quantized haversine into the 0/1
    match cost (match iff round(mm) <= eps_mm — integer compare, no boundary
    float); dp_i_j = least(dp_{i-1}_{j-1} + c_i_j, dp_{i-1}_j + 1,
    dp_i_{j-1} + 1) with the dp_0_* / dp_*_0 = j / i boundary inlined as
    literals."""

    def cost(mm: str) -> str:
        return (
            f"(case when {mm} <= {int(eps_mm)} then cast(0 as bigint)"
            f" else cast(1 as bigint) end)"
        )

    def recur(i: int, j: int) -> str:
        up = f"dp_{i - 1}_{j}" if i > 1 else f"cast({j} as bigint)"
        left = f"dp_{i}_{j - 1}" if j > 1 else f"cast({i} as bigint)"
        diagp = (
            f"dp_{i - 1}_{j - 1}"
            if i > 1 and j > 1
            else f"cast({max(i - 1, j - 1)} as bigint)"
        )
        return f"least({diagp} + c_{i}_{j}, {up} + 1, {left} + 1)"

    return _dp_stages(n_steps, d, cost, recur)


def _final(stages: list[list[str]]) -> str:
    """Name of the DP's result, dp_n_n: the one cell of the last stage."""
    return stages[-1][0].rsplit(" as ", 1)[1]


def _stages_to_let(stages: list[list[str]], d: str, tag: str) -> str:
    """The whole unrolled DP as ONE expression of nested let_ bindings (one
    struct binding per stage, referenced as {tag}{k}.name) evaluating dp_n_n.

    Why not chained selectExpr projections: Catalyst's CollapseProject
    merges adjacent Projects and textually inlines every reference — the
    dp recurrence then expands into a 3^(2n)-node tree with the haversine
    cost matrix re-evaluated per path (measured: 78 s for 336k candidate
    pairs at sf0.1; this form: ~8 s, same values).  The let_ chain pins
    each stage to a single evaluation exactly like the DuckDB oracle's
    materialized CTE chain."""
    parsed = []  # [(stage_idx, [(name, expr), ...])]
    for cols in stages:
        items = []
        for c in cols:
            expr, name = c.rsplit(" as ", 1)
            items.append((name.strip(), expr))
        parsed.append(items)
    where = {}
    for k, items in enumerate(parsed):
        for name, _ in items:
            where[name] = f"{tag}{k}.{name}"

    def rewrite(expr: str) -> str:
        def sub(m):
            nm = m.group(0)
            return where.get(nm, nm)

        return re.sub(r"\b(?:c|dp)_\d+_\d+\b", sub, expr)

    body = where[_final(stages)]
    for k in range(len(parsed) - 1, -1, -1):
        bindings = {name: rewrite(expr) for name, expr in parsed[k]}
        body = let_(bindings, body, d, var=f"{tag}{k}")
    return body


def _dp_oracle_sql(
    trajs_sql_text: str,
    traj_id: str,
    step_col: str,
    stages: list[list[str]],
    col: str,
    bound: int,
) -> str:
    """DuckDB replay of a DP join: brute all-pairs (proves the padded cover
    complete), the identical unrolled integer DP as chained CTE stages."""
    ctes = [
        f"tr as ({trajs_sql_text})",
        _ROWS_CTE.format(traj_id=traj_id, step_col=step_col),
        """pairs as (
            select a.tid as ta, b.tid as tb,
                   a.las as las_a, a.los as los_a,
                   b.las as las_b, b.los as los_b
            from rows_ a join rows_ b on a.tid < b.tid
        )""",
    ]
    prev = "pairs"
    for s, cols in enumerate(stages):
        name = f"st{s}"
        ctes.append(f"{name} as (select *, {', '.join(cols)} from {prev})")
        prev = name
    final = _final(stages)
    return (
        "with " + ",\n".join(ctes) + f"""
        select ta as traj_a, tb as traj_b, {final} as {col}
        from {prev}
        where {final} <= {bound}"""
    )


def dtw_join(
    trajs: DataFrame,
    max_cost_m: float,
    n_steps: int,
    res: int = 12,
    traj_id: str = "traj_id",
    step_col: str = "step",
) -> DataFrame:
    """(traj_a, traj_b, dtw_mm) for every unordered pair of fixed-length
    tracks whose Dynamic-Time-Warping distance (sum of mm-quantized
    haversine costs along the optimal monotone alignment) is
    <= ``max_cost_m`` meters.

    The route-similarity metric Hausdorff can't express: DTW respects fix
    ORDER (a track and its reverse are Hausdorff-identical but DTW-far) and
    accumulates along the alignment instead of taking a max.  Fixed-length
    tracks are the standard scale practice (resample first); ``n_steps``
    sizes the unrolled DP.

    Prefilter: the DP contains cost(A1,B1) unconditionally, so DTW <= C
    implies d(A1,B1) <= C and the C-padded bbox cover join is COMPLETE.
    The DP itself is bigint arithmetic unrolled along anti-diagonals into
    one nested-let_ expression — whole-stage codegen, no Python, no
    iteration state."""
    dp = _stages_to_let(dtw_stage_exprs(n_steps, SPARK), SPARK, "__dtw")
    return _similarity_join(
        trajs, max_cost_m / geo.M_PER_DEG, res, traj_id, step_col,
        dp, "dtw_mm", int(round(max_cost_m * 1000)),
    )


def dtw_join_oracle_sql(
    trajs_sql_text: str,
    max_cost_m: float,
    n_steps: int,
    traj_id: str = "traj_id",
    step_col: str = "step",
) -> str:
    return _dp_oracle_sql(
        trajs_sql_text, traj_id, step_col, dtw_stage_exprs(n_steps, DUCK),
        "dtw_mm", int(round(max_cost_m * 1000)),
    )


def frechet_join(
    trajs: DataFrame,
    max_dist_m: float,
    n_steps: int,
    res: int = 12,
    traj_id: str = "traj_id",
    step_col: str = "step",
) -> DataFrame:
    """(traj_a, traj_b, frechet_mm) for every unordered pair of
    fixed-length tracks with discrete Fréchet distance <= ``max_dist_m``.

    Completes the trajectory-similarity triad: Hausdorff ignores order,
    DTW sums along the alignment (forgiving of one far excursion), Fréchet
    is the ORDER-RESPECTING max — the classic "dog-leash" route-equivalence
    metric (Eiter & Mannila 1994's discrete form, re-derived as SQL).

    Prefilter: every coupling starts at (1,1), so F(A,B) >= d(A1,B1) and
    the R-padded bbox cover join is COMPLETE; the DP is bigint min/max in
    one nested-let_ expression."""
    dp = _stages_to_let(frechet_stage_exprs(n_steps, SPARK), SPARK, "__fr")
    return _similarity_join(
        trajs, max_dist_m / geo.M_PER_DEG, res, traj_id, step_col,
        dp, "frechet_mm", int(round(max_dist_m * 1000)),
    )


def frechet_join_oracle_sql(
    trajs_sql_text: str,
    max_dist_m: float,
    n_steps: int,
    traj_id: str = "traj_id",
    step_col: str = "step",
) -> str:
    return _dp_oracle_sql(
        trajs_sql_text, traj_id, step_col, frechet_stage_exprs(n_steps, DUCK),
        "frechet_mm", int(round(max_dist_m * 1000)),
    )


def edr_join(
    trajs: DataFrame,
    eps_m: float,
    max_edr: int,
    n_steps: int,
    res: int = 12,
    traj_id: str = "traj_id",
    step_col: str = "step",
) -> DataFrame:
    """(traj_a, traj_b, edr) for every unordered pair of fixed-length
    tracks with Edit Distance on Real sequence <= ``max_edr`` under match
    tolerance ``eps_m`` meters.

    Candidate prefilter is COMPLETE for max_edr < n_steps: at least one
    aligned step pair then matches within eps, so the eps-padded bbox
    cover join can't lose a qualifying pair; the DP is one nested-let_
    integer expression."""
    assert int(max_edr) < int(n_steps), "prefilter completeness needs max_edr < n"
    eps_mm = int(round(eps_m * 1000))
    dp = _stages_to_let(edr_stage_exprs(n_steps, eps_mm, SPARK), SPARK, "__edr")
    # DP matches on round(dist_m*1000) <= eps_mm, which admits pairs up to
    # eps_m + 0.5 mm apart — pad the cover by a full extra mm so the
    # prefilter provably dominates the match predicate at the rounding edge
    pad_deg = (eps_m + 0.001) / geo.M_PER_DEG
    return _similarity_join(
        trajs, pad_deg, res, traj_id, step_col, dp, "edr", int(max_edr)
    )


def edr_join_oracle_sql(
    trajs_sql_text: str,
    eps_m: float,
    max_edr: int,
    n_steps: int,
    traj_id: str = "traj_id",
    step_col: str = "step",
) -> str:
    eps_mm = int(round(eps_m * 1000))
    return _dp_oracle_sql(
        trajs_sql_text, traj_id, step_col, edr_stage_exprs(n_steps, eps_mm, DUCK),
        "edr", int(max_edr),
    )
