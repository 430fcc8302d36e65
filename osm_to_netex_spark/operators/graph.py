"""Fixed-point PageRank over a deterministic hash-derived link graph.

Like operators.clustering, this iterative algorithm is NOT exempted from the
value-hash oracle gate: every arithmetic step is exact integer math, so the
T-iteration result is bit-identical across engines, partitionings, and
cluster sizes, and the DuckDB oracle replays it as T unrolled CTEs.

* **Graph.** Each doc emits K out-links; targets are portable-hash mod n
  (dense doc_id domain).  The last link is drawn from a small hub set
  (``% HUB_MOD``) so in-degree is deliberately skewed — dense-city-cell
  style — and the per-iteration aggregation exercises AQE skew handling
  rather than assuming uniform keys.
* **Integer ranks.** r0 = SCALE div n.  Per edge the contribution is
  ``r div K`` (exact — out-degree is the constant K); per iteration
  ``r' = (15·(SCALE div n)) div 100 + (85·Σ contrib) div 100`` with damping
  0.85 carried as integer 85/100.  Sums stay ≪ 2^53: Σ over all in-edges of
  r div K ≤ SCALE·skew, SCALE = 10^12.  Integer sums are order-free, so the
  shuffle schedule cannot perturb values.
* **Scale shape.** Two shuffles per iteration (ranks→src join, dst groupBy
  with map-side combine), T a small constant; no driver-side state at all —
  unlike k-means there is nothing to collect, the ranks table stays
  distributed.  Dangling nodes cannot exist (every doc has exactly K
  out-links); docs with no in-links keep the teleport term via the left
  join.  The reference has no graph surface; this is engine-side
  (SURVEY §2.3), the dedup-group connected-components' PageRank sibling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.portable import DUCK, SPARK, concat_str, phash60
from ..functions.stages import rounds, run_stages, stages_sql

SCALE = 10**12
K_LINKS = 3
HUB_MOD = 97
DAMP_NUM, DAMP_DEN = 85, 100


def _div(a: str, b: str, d: str) -> str:
    return f"({a}) div ({b})" if d == SPARK else f"({a}) // ({b})"


def edges_sql(d: str, table: str = "documents", n_expr: str | None = None) -> str:
    """(src, dst) rows: K_LINKS deterministic out-links per doc; the last one
    lands in the hub set (skewed in-degree)."""
    n = n_expr or f"(select count(*) from {table})"
    parts = []
    for j in range(K_LINKS):
        h = phash60(concat_str(["'lnk:'", "doc_id", f"':{j}'"], d), d)
        mod = f"least({HUB_MOD}, {n})" if j == K_LINKS - 1 else n
        parts.append(f"select doc_id as src, ({h}) % ({mod}) as dst from {table}")
    return " union all ".join(parts)


def _iter_sql(docs: str, edges: str, prev: str, n_expr: str, d: str) -> str:
    base = _div(f"15 * ({_div(str(SCALE), n_expr, d)})", "100", d)
    contrib = _div("rr.r", str(K_LINKS), d)
    inc = (
        f"select e.dst as doc_id, sum({contrib}) as inc "
        f"from {edges} e join {prev} rr on e.src = rr.doc_id group by e.dst"
    )
    newr = f"{base} + ({_div(f'{DAMP_NUM} * coalesce(i.inc, 0)', str(DAMP_DEN), d)})"
    return (
        f"select d.doc_id, {newr} as r "
        f"from {docs} d left join ({inc}) i on d.doc_id = i.doc_id"
    )


def pagerank(
    spark: SparkSession, docs: DataFrame, n_iter: int = 5
) -> DataFrame:
    """(doc_id, pagerank) after ``n_iter`` exact-integer iterations."""
    docs.select("doc_id").createOrReplaceTempView("__pr_docs")
    n_expr = "(select count(*) from __pr_docs)"
    spark.sql(
        f"select src, dst from ({edges_sql(SPARK, '__pr_docs', n_expr)})"
    ).createOrReplaceTempView("__pr_edges")
    ranks = spark.sql(
        f"select doc_id, {_div(str(SCALE), n_expr, SPARK)} as r from __pr_docs"
    )
    for t in range(n_iter):
        ranks.createOrReplaceTempView(f"__pr_r{t}")
        ranks = spark.sql(
            _iter_sql("__pr_docs", "__pr_edges", f"__pr_r{t}", n_expr, SPARK)
        )
    return ranks.selectExpr("doc_id", "r as pagerank")


def pagerank_oracle_sql(table: str = "documents", n_iter: int = 5) -> str:
    """The same T iterations unrolled as chained CTEs (DuckDB dialect)."""
    n_expr = "(select count(*) from d0)"
    ctes = [
        f"d0 as (select doc_id from {table})",
        f"e0 as ({edges_sql(DUCK, 'd0', n_expr)})",
        f"r0 as (select doc_id, {_div(str(SCALE), n_expr, DUCK)} as r from d0)",
    ]
    for t in range(n_iter):
        ctes.append(
            f"r{t + 1} as ({_iter_sql('d0', 'e0', f'r{t}', n_expr, DUCK)})"
        )
    return (
        "with "
        + ", ".join(ctes)
        # DuckDB integer sums widen to HUGEINT, which pandas canonicalizes to
        # float64 and fails dtype-sensitive value hashes; pin output to BIGINT.
        + f" select doc_id, cast(r as bigint) as pagerank from r{n_iter}"
    )


def grid_bfs(
    sources: DataFrame,
    blocked: DataFrame,
    max_dist: int,
    res: int,
) -> DataFrame:
    """Multi-source BFS over the quad-cell grid — the isochrone / catchment
    primitive: (cell_x, cell_y, dist) for every cell reachable from any
    source cell within ``max_dist`` 4-neighbor steps without entering a
    blocked cell.

    Inputs are cell tables (cell_x, cell_y) — sources (e.g. transit stops'
    cells) and obstacles (e.g. water-polygon covers).  Blocked sources are
    excluded (consistently with the oracle).

    Scale shape: the classic frontier expansion, K fixed rounds — each round
    is explode(4 offsets) → anti-join vs the settled set → distinct, all
    keyed on the cell, so every step is a partial-agg-friendly shuffle on
    (cell_x, cell_y) and the working set is the FRONTIER, not the grid.
    ``localCheckpoint`` per round keeps the plan linear in K (the
    connected-components lesson).  No data-dependent control flow: exactly K
    rounds run, so the DuckDB recursive-CTE replay (bounded by dist <
    max_dist) is row-identical.
    """
    from pyspark.sql import functions as F

    n = 2**res
    blk = blocked.selectExpr("cell_x as bx", "cell_y as by").distinct()
    settled = (
        sources.selectExpr("cell_x", "cell_y").distinct()
        .join(blk, (F.col("cell_x") == F.col("bx")) & (F.col("cell_y") == F.col("by")), "left_anti")
        .withColumn("dist", F.lit(0).cast("bigint"))
        .localCheckpoint(eager=False)
    )
    frontier = settled
    for step in range(1, max_dist + 1):
        nxt = (
            frontier.selectExpr(
                "explode(array(struct(cell_x + 1 as x, cell_y as y),"
                " struct(cell_x - 1 as x, cell_y as y),"
                " struct(cell_x as x, cell_y + 1 as y),"
                " struct(cell_x as x, cell_y - 1 as y))) as nb"
            )
            .selectExpr("nb.x as cell_x", "nb.y as cell_y")
            .where(f"cell_x >= 0 and cell_x < {n} and cell_y >= 0 and cell_y < {n}")
            .distinct()
            .join(blk, (F.col("cell_x") == F.col("bx")) & (F.col("cell_y") == F.col("by")), "left_anti")
            .join(settled.select("cell_x", "cell_y"), ["cell_x", "cell_y"], "left_anti")
            .withColumn("dist", F.lit(step).cast("bigint"))
            .localCheckpoint(eager=False)
        )
        settled = settled.unionByName(nxt).localCheckpoint(eager=False)
        frontier = nxt
    return settled


def grid_bfs_oracle_sql(
    sources_sql: str,
    blocked_sql: str,
    max_dist: int,
    res: int,
) -> str:
    """DuckDB replay: recursive CTE bounded by dist < max_dist; min dist per
    cell = BFS distance (uniform weights)."""
    n = 2**res
    return f"""
        with recursive blk as (select distinct cell_x as bx, cell_y as by from ({blocked_sql}) b),
        src as (
            select distinct cell_x, cell_y from ({sources_sql}) s
            where not exists (select 1 from blk where bx = cell_x and by = cell_y)
        ),
        reach(cell_x, cell_y, dist) as (
            select cell_x, cell_y, cast(0 as bigint) from src
            union
            select r.cell_x + d.dx, r.cell_y + d.dy, r.dist + 1
            from reach r,
                 (values (1, 0), (-1, 0), (0, 1), (0, -1)) d(dx, dy)
            where r.dist < {max_dist}
              and r.cell_x + d.dx >= 0 and r.cell_x + d.dx < {n}
              and r.cell_y + d.dy >= 0 and r.cell_y + d.dy < {n}
              and not exists (select 1 from blk
                              where bx = r.cell_x + d.dx and by = r.cell_y + d.dy)
        )
        select cell_x, cell_y, min(dist) as dist
        from reach group by cell_x, cell_y"""


def triangles_sql(d: str, table: str = "documents") -> str:
    """Per-node triangle counts over the deterministic link graph — the
    classic distributed-graph statistic (clustering-coefficient numerator).

    Algorithm: undirect + distinct the edge multiset, canonicalize each edge
    to a < b, and enumerate each triangle exactly once through its ordered
    form a < b < c: join edges (a,b)⋈(b,c) on the shared middle vertex, then
    close with a semi-join on (a,c).  Per-node count = triangles touching
    the node, from one explode of the closed wedge.  Ordering the vertices
    is the standard trick that both dedups and bounds the join — the wedge
    fan-out is Σ deg_lo·deg_hi over the ORDERED adjacency, far below deg²
    for skewed graphs (each hub's wedges pair only its higher-id neighbors).

    Both dialects share this text verbatim (pure ANSI joins).

    Per-node triangle counts on the deterministic link graph:
    ordered-vertex wedge join + closure semi-join (each triangle counted
    once).
    """
    base = edges_sql(d, table)
    return f"""
        with raw as ({base}),
        und as (
            select least(src, dst) as a, greatest(src, dst) as b
            from raw where src <> dst
            group by 1, 2
        ),
        wedge as (
            select e1.a as a, e1.b as b, e2.b as c
            from und e1 join und e2 on e1.b = e2.a
        ),
        tri as (
            select w.a, w.b, w.c
            from wedge w join und e3 on w.a = e3.a and w.c = e3.b
        ),
        pernode as (
            select v, count(*) as n_tri from (
                select a as v from tri
                union all select b as v from tri
                union all select c as v from tri
            ) t group by v
        )
        select v as doc_id, cast(n_tri as bigint) as n_triangles
        from pernode"""


# ---------------------------------------------------------------------------
# K-round Bellman-Ford SSSP (Pregel-style synchronous relaxation)
# ---------------------------------------------------------------------------
def weighted_edges_sql(d: str, table: str = "documents", n_expr: str | None = None) -> str:
    """Distinct (src, dst, w): the link graph with a deterministic integer
    weight 1..9 per edge (hash of the endpoint pair)."""
    wh = phash60(concat_str(["'w:'", "src", "':'", "dst"], d), d)
    w = f"1 + ({wh}) % 9"
    return (
        f"select src, dst, {w} as w from "
        f"(select distinct src, dst from ({edges_sql(d, table, n_expr)}))"
    )


def _sssp_iter_sql(edges: str, prev: str) -> str:
    """One synchronous relaxation: keep current labels, add every edge
    extension, take the min per node.  Pure integer min — order-free."""
    return (
        f"select doc_id, min(dist) as dist from ("
        f"  select doc_id, dist from {prev}"
        f"  union all"
        f"  select e.dst as doc_id, p.dist + e.w as dist"
        f"  from {edges} e join {prev} p on e.src = p.doc_id"
        f") group by doc_id"
    )


def _sssp_stages(d: str, docs, n_rounds: int, source_mod: int):
    # edges feed every round, and a round feeds TWO branches of the next
    # (carry + relax): each staged round keeps the plan linear in K
    n_expr = "(select count(*) from __sp_docs)"
    seed = (
        f"select doc_id, cast(0 as bigint) as dist from __sp_docs "
        f"where doc_id % {source_mod} = 0"
    )
    return [
        ("__sp_docs", docs),
        ("__sp_edges", weighted_edges_sql(d, "__sp_docs", n_expr)),
        *rounds("__sp_d", seed, lambda p: _sssp_iter_sql("__sp_edges", p), n_rounds - 1),
    ], _sssp_iter_sql("__sp_edges", f"__sp_d{n_rounds - 1}")


def sssp(spark: SparkSession, docs: DataFrame, n_rounds: int = 4,
         source_mod: int = 997) -> DataFrame:
    """(doc_id, dist): exact min-cost path length from the source set
    (doc_id % source_mod == 0) reachable within ``n_rounds`` relaxations.

    Scale shape: the frontier table is SPARSE (only reached nodes), one
    join + one map-side-combined min-agg per round, K a small constant —
    the Pregel/GraphX SSSP shape without per-vertex driver state.  Integer
    weights and min() make every round order-free, so the K-round label
    table is bit-identical across partitionings and both engines (the
    oracle runs the same stages).
    """
    return run_stages(spark, *_sssp_stages(SPARK, docs.select("doc_id"), n_rounds, source_mod))


def sssp_oracle_sql(table: str = "documents", n_rounds: int = 4,
                    source_mod: int = 997) -> str:
    """The same K rounds as materialized CTEs (DuckDB dialect)."""
    return stages_sql(*_sssp_stages(DUCK, f"select doc_id from {table}", n_rounds, source_mod))


# ---------------------------------------------------------------------------
# k-core decomposition (R-round peel)
# ---------------------------------------------------------------------------
def undirected_edges_sql(d: str, docs: str, n_expr: str) -> str:
    """Simple undirected adjacency (u, w) from the deterministic link graph:
    self-loops dropped, both directions emitted once via a distinct on the
    canonical (min, max) pair."""
    return f"""
        select a as u, b as w from (
            select distinct least(src, dst) as a, greatest(src, dst) as b
            from ({edges_sql(d, docs, n_expr)}) e where src <> dst
        ) s
        union all
        select b as u, a as w from (
            select distinct least(src, dst) as a, greatest(src, dst) as b
            from ({edges_sql(d, docs, n_expr)}) e where src <> dst
        ) s2"""


def _kcore_round_sql(adj: str, alive: str, k: int) -> str:
    """One peel: recount degrees within the alive set, keep deg >= k.
    Shared dialect (pure joins + one map-side-combined groupBy)."""
    return f"""
        select v, deg from (
            select n.v as v, count(*) as deg
            from {alive} n
            join {adj} e on e.u = n.v
            join {alive} m on m.v = e.w
            group by n.v
        ) t where deg >= {k}"""


def _kcore_stages(d: str, docs, k: int, n_rounds: int):
    n_expr = "(select count(*) from __kc_docs)"
    seed = (
        "select v, deg from ("
        "  select u as v, count(*) as deg from __kc_adj group by u"
        f") t where deg >= {k}"
    )
    last = _kcore_round_sql("__kc_adj", f"__kc_a{n_rounds - 1}", k)
    return [
        ("__kc_docs", docs),
        ("__kc_adj", undirected_edges_sql(d, "__kc_docs", n_expr)),
        *rounds("__kc_a", seed, lambda p: _kcore_round_sql("__kc_adj", p, k), n_rounds - 1),
    ], f"select v as doc_id, cast(deg as bigint) as deg from ({last}) t"


def k_core(
    spark: SparkSession, docs: DataFrame, k: int = 2, n_rounds: int = 4
) -> DataFrame:
    """(doc_id, deg): survivors of ``n_rounds`` peel rounds of the k-core
    decomposition — repeatedly drop nodes whose degree within the surviving
    subgraph is < k.  Deterministic for ANY round count (each round is an
    exact set), and equal to the true k-core once the peel converges
    (pytest-pinned on the fixture graph).

    Scale: each round is one groupBy (map-side combine) + two hash joins on
    node id; the alive table only shrinks; adjacency and rounds are staged
    so the plan stays linear in rounds — the connected-components /
    grid_bfs discipline."""
    return run_stages(spark, *_kcore_stages(SPARK, docs.select("doc_id"), k, n_rounds))


def k_core_oracle_sql(table: str = "documents", k: int = 2, n_rounds: int = 4) -> str:
    """The same peel as materialized CTEs (DuckDB dialect)."""
    return stages_sql(*_kcore_stages(DUCK, f"select doc_id from {table}", k, n_rounds))


# ---------------------------------------------------------------------------
# label propagation communities (synchronous, deterministic tie-break)
# ---------------------------------------------------------------------------
def _lpa_round_sql(adj: str, lab: str) -> str:
    """One synchronous LPA round: each node adopts the most frequent label
    among its neighbors, ties broken by the SMALLEST label (fully
    deterministic); isolated nodes keep their label via the left join."""
    return f"""
        select l.v,
               coalesce(nl.lbl, l.lbl) as lbl
        from {lab} l
        left join (
            select v, lbl from (
                select e.u as v, n.lbl, count(*) as c,
                       row_number() over (
                           partition by e.u order by count(*) desc, n.lbl asc
                       ) as rn
                from {adj} e join {lab} n on n.v = e.w
                group by e.u, n.lbl
            ) t where rn = 1
        ) nl on nl.v = l.v"""


def _lpa_stages(d: str, docs, k: int, p: str = "") -> list:
    """The {p}d0/{p}adj/{p}l0..l{k} stages of LPA, dialect-selectable
    (shared by label propagation and the modularity composition)."""
    n_expr = f"(select count(*) from {p}d0)"
    return [
        (f"{p}d0", docs),
        (f"{p}adj", undirected_edges_sql(d, f"{p}d0", n_expr)),
        *rounds(f"{p}l", f"select doc_id as v, doc_id as lbl from {p}d0",
                lambda prev: _lpa_round_sql(f"{p}adj", prev), k),
    ]


def _lpa_final(n_rounds: int, p: str) -> str:
    last = _lpa_round_sql(f"{p}adj", f"{p}l{n_rounds - 1}")
    return f"select v as doc_id, cast(lbl as bigint) as community from ({last}) t"


def label_propagation(
    spark: SparkSession, docs: DataFrame, n_rounds: int = 3
) -> DataFrame:
    """(doc_id, community) after ``n_rounds`` synchronous label-propagation
    rounds over the undirected link graph — the classic near-linear community
    detector (Raghavan et al. 2007), made deterministic by the count-desc /
    label-asc vote so the result is value-hash-gateable.

    Scale: per round one groupBy on (node, label) with map-side combine, one
    per-node top-1 window (keys are node ids — no global window), one
    broadcast-free left join; labels are ints, no driver state."""
    stages = _lpa_stages(SPARK, docs.select("doc_id"), n_rounds - 1, "__lp_")
    return run_stages(spark, stages, _lpa_final(n_rounds, "__lp_"))


def label_propagation_oracle_sql(table: str = "documents", n_rounds: int = 3) -> str:
    stages = _lpa_stages(DUCK, f"select doc_id from {table}", n_rounds - 1)
    return stages_sql(stages, _lpa_final(n_rounds, ""))


# ---------------------------------------------------------------------------
# local clustering coefficient
# ---------------------------------------------------------------------------
def clustering_coeff_sql(d: str, table: str = "documents") -> str:
    """Per-node local clustering coefficient cc = 2·T(v) / (deg·(deg−1)) —
    how tightly a node's neighborhood closes into triangles, the standard
    local graph-structure feature.  Triangle counts via the ordered-wedge
    enumeration (triangles_sql); cc quantized to bigint 1e-9 (one double
    division on exact integer operands).  Shared dialect text.

    Local clustering coefficient per node over the link graph."""
    base = edges_sql(d, table)
    return f"""
        with raw as ({base}),
        und as (
            select least(src, dst) as a, greatest(src, dst) as b
            from raw where src <> dst
            group by 1, 2
        ),
        deg as (
            select v, count(*) as deg from (
                select a as v from und union all select b as v from und
            ) t group by v
        ),
        wedge as (
            select e1.a as a, e1.b as b, e2.b as c
            from und e1 join und e2 on e1.b = e2.a
        ),
        tri as (
            select w.a, w.b, w.c
            from wedge w join und e3 on w.a = e3.a and w.c = e3.b
        ),
        pernode as (
            select v, count(*) as n_tri from (
                select a as v from tri
                union all select b as v from tri
                union all select c as v from tri
            ) t group by v
        )
        select deg.v as doc_id,
               cast(coalesce(p.n_tri, 0) as bigint) as n_triangles,
               cast(deg.deg as bigint) as degree,
               cast(case when deg.deg >= 2 then floor(
                        2.0e0 * cast(coalesce(p.n_tri, 0) as double)
                        / cast(deg.deg * (deg.deg - 1) as double)
                        * 1.0e9 + 0.5e0)
                    else 0 end as bigint) as cc_q9
        from deg left join pernode p on p.v = deg.v"""


# ---------------------------------------------------------------------------
# HyperANF — HLL-sketched k-hop neighborhood function (Boldi & Vigna 2011)
# ---------------------------------------------------------------------------
def _hanf_term(d: str) -> str:
    return (
        "shiftleft(cast(1 as bigint), 53 - m)"
        if d == SPARK
        else "(cast(1 as bigint) << (53 - m))"
    )


def _hanf_round_sql(adj: str, prev: str) -> str:
    """One synchronous HyperANF round: each node max-merges its neighbors'
    register sets into its own — HLL union IS per-register max, so the
    merge is an ordinary map-side-combinable aggregate.  Shared dialect."""
    return f"""
        select v, j, max(m) as m from (
            select e.u as v, r.j, r.m from {adj} e join {prev} r on r.v = e.w
            union all
            select v, j, m from {prev}
        ) x group by v, j"""


def _hanf_est_sql(regs: str, depth: int, d: str) -> str:
    from ..functions import sketch

    numer = sketch.ALPHA_256 * sketch.M_REGISTERS * sketch.M_REGISTERS * float(2**53)
    return f"""
        select v as doc_id, {depth} as depth,
               cast(count(*) as bigint) as n_registers_hit,
               round({numer!r} / cast(sum({_hanf_term(d)})
                   + ({sketch.M_REGISTERS} - count(*)) * cast({2**53} as bigint)
                   as double), 6) as reach_estimate
        from {regs} group by v"""


def _hanf_stages(d: str, docs, n_rounds: int):
    from ..functions import sketch

    n_expr = "(select count(*) from __ha_docs)"
    reg = sketch.hll_register("doc_id", d, salt="anf")
    rho = sketch.hll_rho("doc_id", d, salt="anf")
    seed = f"select doc_id as v, {reg} as j, {rho} as m from __ha_docs"
    ests = [f"({_hanf_est_sql(f'__ha_r{t}', t, d)})" for t in range(n_rounds + 1)]
    return [
        ("__ha_docs", docs),
        ("__ha_adj", undirected_edges_sql(d, "__ha_docs", n_expr)),
        *rounds("__ha_r", seed, lambda p: _hanf_round_sql("__ha_adj", p), n_rounds),
    ], "select * from " + " union all select * from ".join(ests)


def hyperanf(
    spark: SparkSession, docs: DataFrame, n_rounds: int = 2
) -> DataFrame:
    """(doc_id, depth, n_registers_hit, reach_estimate) for depths
    0..n_rounds: the HLL-sketched count of nodes within k hops — the
    neighborhood function HyperANF computes on billion-node graphs where
    exact BFS per node is impossible.  Registers-as-rows (the sketch.py
    algebra): union = per-register max ⇒ every round is one
    map-side-combined groupBy after a node-keyed join; the integer dyadic
    harmonic sum keeps the estimate order-free and bit-exact cross-engine.

    Scale: per-node register state bounded by m=256 rows; rounds are K
    small constants; no driver state; skewed hubs are the AQE case."""
    return run_stages(spark, *_hanf_stages(SPARK, docs.select("doc_id"), n_rounds))


def hyperanf_oracle_sql(table: str = "documents", n_rounds: int = 2) -> str:
    return stages_sql(*_hanf_stages(DUCK, f"select doc_id from {table}", n_rounds))


# ---------------------------------------------------------------------------
# community modularity (quality of a partition)
# ---------------------------------------------------------------------------
def modularity_sql(d: str, table: str = "documents", n_rounds: int = 3) -> str:
    """Newman modularity terms for the label-propagation partition: per
    community (n_nodes, intra_edges e_c, degree_sum d_c, m_edges, and the
    exact integer numerator term 4·m·e_c − d_c²) — global Q = Σ terms /
    (4m²), one division away, so the gate never touches floats.

    Composes the gated LPA (same unrolled rounds); edge/degree counts come
    from the same canonical undirected edge set.  Magnitudes: m ≤ |E|,
    4·m·e_c and d_c² ≤ 4m² ≪ 2^63 for any graph this engine's int64 ids
    fit.

    Newman modularity terms of the LPA partition — integer numerators,
    global Q one division away."""
    # plain CTEs: modularity is one SQL text, its LPA rounds are not staged
    lpa = _lpa_stages(d, f"select doc_id from {table}", n_rounds)
    return f"""
        with {", ".join(f"{n} as ({q})" for n, q in lpa)},
        lab as (select v as doc_id, cast(lbl as bigint) as community from l{n_rounds}),
        ue as (
            select distinct least(u, w) as a, greatest(u, w) as b from adj
        ),
        m as (select cast(count(*) as bigint) as m from ue),
        e_in as (
            select la.community, cast(count(*) as bigint) as e_c
            from ue
            join lab la on la.doc_id = ue.a
            join lab lb on lb.doc_id = ue.b
            where la.community = lb.community
            group by la.community
        ),
        degs as (
            select lab.community,
                   cast(count(*) as bigint) as n_nodes,
                   cast(sum(dg.deg) as bigint) as d_c
            from lab
            join (select u as v, count(*) as deg from adj group by u) dg
              on dg.v = lab.doc_id
            group by lab.community
        )
        select degs.community, degs.n_nodes,
               cast(coalesce(e_in.e_c, 0) as bigint) as intra_edges,
               degs.d_c as degree_sum,
               m.m as m_edges,
               cast(4 * m.m * coalesce(e_in.e_c, 0) - degs.d_c * degs.d_c
                    as bigint) as num_term
        from degs
        left join e_in on e_in.community = degs.community
        cross join m"""
