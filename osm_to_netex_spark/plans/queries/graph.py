"""Graph queries over the deterministic document link graph: iterative
ranking (PageRank, HITS), communities and components, k-core, triangles,
centralities, link prediction and network structure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ...functions.portable import SPARK
from ...operators import graph
from ...operators.graph import edges_sql, undirected_edges_sql
from ...functions.stages import rounds
from .corpus import sql_query, staged_query


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point integer PageRank, 5 iterations over the deterministic
    skewed link graph (operators.graph) — iterative yet value-hash-gated."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return graph.pagerank(spark, docs, n_iter=5)


def q_pagerank_oracle() -> str:
    return graph.pagerank_oracle_sql("documents", n_iter=5)


def q_hyperanf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperANF neighborhood function, depths 0-2
    (operators.graph.hyperanf)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return graph.hyperanf(spark, docs, n_rounds=2)


def q_hyperanf_oracle() -> str:
    return graph.hyperanf_oracle_sql("documents", n_rounds=2)


# ---------------------------------------------------------------------------
# K-round Bellman-Ford SSSP
# ---------------------------------------------------------------------------
def q_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pregel-style synchronous SSSP: 4 relaxation rounds over the weighted
    link graph from a sparse source set — sparse frontier table, one join +
    one min-agg per round, exact integer labels (operators.graph.sssp)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return graph.sssp(spark, docs, n_rounds=4)


def q_sssp_oracle() -> str:
    return graph.sssp_oracle_sql(n_rounds=4)


def q_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (4 peel rounds, k=2) over the deterministic link
    graph — the density filter community/graph-ML pipelines run before
    expensive per-node work (operators.graph.k_core)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return graph.k_core(spark, docs, k=2, n_rounds=4)


def q_k_core_oracle() -> str:
    return graph.k_core_oracle_sql("documents", k=2, n_rounds=4)


def q_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation communities, 3 rounds, deterministic
    count-desc/label-asc vote (operators.graph.label_propagation)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return graph.label_propagation(spark, docs, n_rounds=3)


def q_label_prop_oracle() -> str:
    return graph.label_propagation_oracle_sql("documents", n_rounds=3)


# ---------------------------------------------------------------------------
# Link prediction: common neighbors + Adamic–Adar on the doc graph
# ---------------------------------------------------------------------------
def _link_predict_sql(d: str, min_cn: int = 2) -> str:
    """Missing-link scores over the deterministic doc graph
    (operators.graph.edges_sql): for every non-adjacent pair reachable in
    two hops, common-neighbor count and Adamic–Adar Σ 1/ln(deg z) — the
    classic local link predictors (Liben-Nowell & Kleinberg 2003).

    Exactness: cn is a count; each wedge's 1/ln(deg) is quantized to 1e9
    units before the integer fold (deg ≥ 2 for any wedge middle, so ln>0).

    Scale: wedges come from the und-edge self-join keyed on the middle
    vertex — Θ(Σ deg²), the inherent wedge count (hub degree is bounded by
    the graph's own HUB_MOD skew design; AQE splits residual skew); the
    adjacency anti-join and the deg join are edge-list-sized."""
    base = edges_sql(d)
    return f"""
        with raw as ({base}),
        und as (
            select distinct least(src, dst) as a, greatest(src, dst) as b
            from raw where src <> dst
        ),
        deg as (
            select v, cast(count(*) as bigint) as deg from (
                select a as v from und union all select b as v from und
            ) t group by v
        ),
        wedge as (
            select e1.o as doc_a, e2.o as doc_b, e1.z as z
            from (select a as z, b as o from und union all
                  select b as z, a as o from und) e1
            join (select a as z, b as o from und union all
                  select b as z, a as o from und) e2
              on e1.z = e2.z and e1.o < e2.o
        ),
        scored as (
            select w.doc_a, w.doc_b,
                   cast(count(*) as bigint) as cn,
                   cast(sum(cast(floor(1000000000.0e0 / ln(cast(dg.deg as double))
                            + 0.5e0) as bigint)) as bigint) as aa_q9
            from wedge w join deg dg on dg.v = w.z
            group by w.doc_a, w.doc_b
        )
        select s.doc_a, s.doc_b, s.cn, s.aa_q9
        from scored s
        left join und u on u.a = s.doc_a and u.b = s.doc_b
        where u.a is null and s.cn >= {min_cn}"""


# ---------------------------------------------------------------------------
# Bounded-radius harmonic centrality (K-hop, sampled sources)
# ---------------------------------------------------------------------------
_HC_MOD = 7
_HC_ROUNDS = 4
# 1/d as exact integer 1e-6 units per hop count — no float division in the
# fold, and every engine sums identical bigints
_HC_W = {dd: round(1.0e6 / dd) for dd in range(1, _HC_ROUNDS + 1)}


def _hc_iter_sql(edges: str, prev: str) -> str:
    # the sssp relaxation lifted to (src, node) pair state
    return (
        f"select src, doc_id, min(dist) as dist from ("
        f"  select src, doc_id, dist from {prev}"
        f"  union all"
        f"  select p.src, e.w as doc_id, p.dist + 1 as dist"
        f"  from {edges} e join {prev} p on e.u = p.doc_id"
        f") group by src, doc_id"
    )


def _hc_final_sql(last: str) -> str:
    w = " ".join(f"when {dd} then {_HC_W[dd]}" for dd in _HC_W)
    return (
        f"select src as doc_id, "
        f"cast(count(*) - 1 as bigint) as n_reached, "
        f"cast(sum(case dist {w} else 0 end) as bigint) as harmonic_q6 "
        f"from {last} group by src"
    )


def _harmonic_stages(d: str):
    """(doc_id, n_reached, harmonic_q6): harmonic centrality Σ 1/d(u,v)
    within radius K=4 on the deterministic undirected link graph, for the
    sampled source set doc_id % 7 == 0 — the bounded-radius sampled form
    every large-graph centrality system ships (exact all-pairs is Θ(n·m)).
    1/d is an exact integer 1e-6 weight per hop count, so the fold is a
    bigint sum; BFS distances are exact min-plus integers (order-free).

    Scale: state is (src, node) pairs — sparse frontier bounded by
    |sources|·|K-ball|; one join + one map-side-combined min per round,
    staged rounds keep plans linear in K (the sssp discipline,
    operators/graph.py)."""
    n_expr = "(select count(*) from __hc_docs)"
    seed = (
        f"select doc_id as src, doc_id, cast(0 as bigint) as dist "
        f"from __hc_docs where doc_id % {_HC_MOD} = 0"
    )
    return [
        ("__hc_docs", "select doc_id from documents"),
        ("__hc_edges", undirected_edges_sql(d, "__hc_docs", n_expr)),
        *rounds("__hc_d", seed, lambda p: _hc_iter_sql("__hc_edges", p), _HC_ROUNDS),
    ], _hc_final_sql(f"__hc_d{_HC_ROUNDS}")


# ---------------------------------------------------------------------------
# Rich-club coefficient + degree assortativity (network structure)
# ---------------------------------------------------------------------------
def _graph_edges(d: str) -> str:
    """Canonical undirected simple edges of the deterministic link graph
    (the same graph pagerank / k-core / triangles gate)."""
    n_expr = "(select count(*) from documents)"
    return (
        f"select distinct least(src, dst) as u, greatest(src, dst) as w "
        f"from ({edges_sql(d, 'documents', n_expr)}) e where src <> dst"
    )


def _rich_club_sql(d: str) -> str:
    """Rich-club coefficient φ(k) for k = 1..6: among nodes of degree
    > k, the realized fraction of possible edges — whether the hubs of
    the link graph preferentially interconnect (the structural question
    behind influence/robustness analyses).  φ is the cross-multiplied
    exact pair (2·E_k, N_k·(N_k−1)) plus one rounded division.

    Scale: one degree aggregate, a 6-row k table broadcast against it,
    and an edges∶degree semi-join per k — edges scan once, k fan-out is
    a constant 6."""
    ks = " union all ".join(f"select {k} as k" for k in range(1, 7))
    return f"""
        with edges as ({_graph_edges(d)}),
        deg as (
            select node, cast(count(*) as bigint) as dg from (
                select u as node from edges
                union all
                select w as node from edges
            ) both_ends group by node
        ),
        ks as ({ks}),
        club as (
            select k.k, d.node from ks k join deg d on d.dg > k.k
        ),
        nk as (
            select k, cast(count(*) as bigint) as n_k from club group by k
        ),
        ek as (
            select c1.k, cast(count(*) as bigint) as e_k
            from edges e
            join club c1 on c1.node = e.u
            join club c2 on c2.node = e.w and c2.k = c1.k
            group by c1.k
        )
        select cast(n.k as bigint) as k, n.n_k,
               cast(coalesce(e.e_k, 0) as bigint) as e_k,
               round(2.0e0 * cast(coalesce(e.e_k, 0) as double)
                     / (cast(n.n_k as double)
                        * cast(n.n_k - 1 as double)), 9) as phi
        from nk n left join ek e on e.k = n.k
        where n.n_k >= 2"""


def _assortativity_sql(d: str) -> str:
    """Degree assortativity of the link graph — the Pearson correlation
    of endpoint degrees over edges (Newman 2002), the single number that
    says whether hubs attach to hubs (social) or to leaves
    (technological).  Every moment (Σx, Σy, Σxy, Σx², Σy² over DIRECTED
    edge endpoints, both orientations) is an exact bigint of integer
    degrees; r is one fixed float sequence, rounded 1e-9.

    Scale: degree aggregate + two broadcast degree lookups on the edge
    scan + one 1-row moment fold."""
    return f"""
        with edges as ({_graph_edges(d)}),
        deg as (
            select node, cast(count(*) as bigint) as dg from (
                select u as node from edges
                union all
                select w as node from edges
            ) both_ends group by node
        ),
        pairs as (
            select da.dg as x, db.dg as y
            from edges e
            join deg da on da.node = e.u
            join deg db on db.node = e.w
            union all
            select db.dg as x, da.dg as y
            from edges e
            join deg da on da.node = e.u
            join deg db on db.node = e.w
        ),
        mom as (
            select cast(count(*) as bigint) as m,
                   cast(sum(x) as bigint) as sx,
                   cast(sum(y) as bigint) as sy,
                   cast(sum(x * y) as bigint) as sxy,
                   cast(sum(x * x) as bigint) as sxx,
                   cast(sum(y * y) as bigint) as syy
            from pairs
        )
        select m, sx, sxy,
               round((cast(m as double) * cast(sxy as double)
                      - cast(sx as double) * cast(sy as double))
                     / (sqrt(cast(m as double) * cast(sxx as double)
                             - cast(sx as double) * cast(sx as double))
                        * sqrt(cast(m as double) * cast(syy as double)
                               - cast(sy as double) * cast(sy as double))),
                     9) as assortativity
        from mom"""


# ---------------------------------------------------------------------------
# HITS hub/authority scores (Kleinberg 1999, integer fixed-point rounds)
# ---------------------------------------------------------------------------
_HITS_ROUNDS = 3
_HITS_SCALE = 1000000


def _hits_round(t: int, d: str) -> list[tuple[str, str]]:
    """Round t: raw authority sums from the hubs of round t, max-normalised,
    then raw hub sums from those authorities, max-normalised."""
    idiv = "div" if d == SPARK else "//"

    def norm(raw: str) -> str:
        return (
            f"select node, cast(raw * {_HITS_SCALE} {idiv} "
            f"(select max(raw) from {raw}) as bigint) as s from {raw}"
        )

    return [
        (f"__hits_ra{t}", f"select e.dst as node, cast(sum(h.s) as bigint) as raw "
                          f"from __hits_e e join __hits_h{t} h on h.node = e.src group by e.dst"),
        (f"__hits_a{t}", norm(f"__hits_ra{t}")),
        (f"__hits_rh{t}", f"select e.src as node, cast(sum(a.s) as bigint) as raw "
                          f"from __hits_e e join __hits_a{t} a on a.node = e.dst group by e.src"),
        (f"__hits_h{t + 1}", norm(f"__hits_rh{t}")),
    ]


def _hits_stages(d: str):
    """(doc_id, hub_q6, auth_q6): Kleinberg HITS on the directed link
    graph — hubs point at good authorities, authorities are pointed at
    by good hubs — run 3 synchronous rounds with integer max-
    normalization (score·10⁶ div max — exact, so the fixed point is
    bit-reproducible, the pagerank integer discipline).

    Scale: each half-round is one join + map-side-combined sum on the
    edge relation + a 1-row max broadcast; every half-round is a stage
    (never one SQL text — the 2^K re-inline lesson)."""
    n_expr = "(select count(*) from documents)"
    return [
        ("__hits_e", f"select distinct src, dst from "
                     f"({edges_sql(d, 'documents', n_expr)}) where src <> dst"),
        ("__hits_h0", f"select doc_id as node, cast({_HITS_SCALE} as bigint) as s "
                      f"from documents"),
        *(stage for t in range(_HITS_ROUNDS) for stage in _hits_round(t, d)),
    ], f"""
        select d.doc_id,
               cast(coalesce(h.s, 0) as bigint) as hub_q6,
               cast(coalesce(a.s, 0) as bigint) as auth_q6
        from documents d
        left join __hits_h{_HITS_ROUNDS} h on h.node = d.doc_id
        left join __hits_a{_HITS_ROUNDS - 1} a on a.node = d.doc_id
        where coalesce(h.s, 0) > 0 or coalesce(a.s, 0) > 0"""


QUERIES = {
    "pagerank": (q_pagerank, q_pagerank_oracle),
    "clustering_coeff": sql_query(graph.clustering_coeff_sql),
    "hyperanf": (q_hyperanf, q_hyperanf_oracle),
    "triangles": sql_query(graph.triangles_sql),
    "sssp": (q_sssp, q_sssp_oracle),
    "modularity": sql_query(graph.modularity_sql),
    "k_core": (q_k_core, q_k_core_oracle),
    "label_prop": (q_label_prop, q_label_prop_oracle),
    "link_predict": sql_query(_link_predict_sql),
    "harmonic_centrality": staged_query(_harmonic_stages),
    "rich_club": sql_query(_rich_club_sql),
    "degree_assortativity": sql_query(_assortativity_sql),
    "hits_scores": staged_query(_hits_stages),
}
