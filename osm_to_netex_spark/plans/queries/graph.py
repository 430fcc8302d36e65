"""Graph queries over the deterministic document link graph: iterative
ranking (PageRank, HITS), communities and components, k-core, triangles,
centralities, link prediction and network structure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ...functions.portable import DUCK, SPARK
from ...operators import graph
from ...operators.graph import edges_sql, undirected_edges_sql
from .corpus import register_geometry_views


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point integer PageRank, 5 iterations over the deterministic
    skewed link graph (operators.graph) — iterative yet value-hash-gated."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return graph.pagerank(spark, docs, n_iter=5)


def q_pagerank_oracle() -> str:
    return graph.pagerank_oracle_sql("documents", n_iter=5)


def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node over the link graph
    (operators.graph.clustering_coeff_sql)."""
    register_geometry_views(spark, sf_dir)
    return spark.sql(graph.clustering_coeff_sql(SPARK))


def q_clustering_coeff_oracle() -> str:
    return graph.clustering_coeff_sql(DUCK)


def q_hyperanf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperANF neighborhood function, depths 0-2
    (operators.graph.hyperanf)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return graph.hyperanf(spark, docs, n_rounds=2)


def q_hyperanf_oracle() -> str:
    return graph.hyperanf_oracle_sql("documents", n_rounds=2)


def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the deterministic link graph: ordered-
    vertex wedge join + closure semi-join (each triangle counted once)."""
    register_geometry_views(spark, sf_dir)
    return spark.sql(graph.triangles_sql(SPARK))


def q_triangles_oracle() -> str:
    return graph.triangles_sql(DUCK)


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


def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity terms of the LPA partition — integer numerators,
    global Q one division away (operators.graph.modularity_sql)."""
    register_geometry_views(spark, sf_dir)
    return spark.sql(graph.modularity_sql(SPARK))


def q_modularity_oracle() -> str:
    return graph.modularity_sql(DUCK)


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


def q_link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geometry_views(spark, sf_dir)
    return spark.sql(_link_predict_sql(SPARK))


def q_link_predict_oracle() -> str:
    return _link_predict_sql(DUCK)


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


def q_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_reached, harmonic_q6): harmonic centrality Σ 1/d(u,v)
    within radius K=4 on the deterministic undirected link graph, for the
    sampled source set doc_id % 7 == 0 — the bounded-radius sampled form
    every large-graph centrality system ships (exact all-pairs is Θ(n·m)).
    1/d is an exact integer 1e-6 weight per hop count, so the fold is a
    bigint sum; BFS distances are exact min-plus integers (order-free).

    Scale: state is (src, node) pairs — sparse frontier bounded by
    |sources|·|K-ball|; one join + one map-side-combined min per round,
    localCheckpoint keeps plans linear in K (the sssp discipline,
    operators/graph.py:267)."""
    register_geometry_views(spark, sf_dir)
    spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id"
    ).createOrReplaceTempView("__hc_docs")
    n_expr = "(select count(*) from __hc_docs)"
    spark.sql(
        undirected_edges_sql(SPARK, "__hc_docs", n_expr)
    ).localCheckpoint(eager=False).createOrReplaceTempView("__hc_edges")
    cur = spark.sql(
        f"select doc_id as src, doc_id, cast(0 as bigint) as dist "
        f"from __hc_docs where doc_id % {_HC_MOD} = 0"
    )
    for t in range(_HC_ROUNDS):
        cur.localCheckpoint(eager=False).createOrReplaceTempView(f"__hc_d{t}")
        cur = spark.sql(_hc_iter_sql("__hc_edges", f"__hc_d{t}"))
    cur.localCheckpoint(eager=False).createOrReplaceTempView("__hc_last")
    return spark.sql(_hc_final_sql("__hc_last"))


def q_harmonic_centrality_oracle() -> str:
    n_expr = "(select count(*) from d0)"
    ctes = [
        "d0 as (select doc_id from documents)",
        f"e0 as ({undirected_edges_sql(DUCK, 'd0', n_expr)})",
        f"s0 as (select doc_id as src, doc_id, cast(0 as bigint) as dist "
        f"from d0 where doc_id % {_HC_MOD} = 0)",
    ]
    for t in range(_HC_ROUNDS):
        ctes.append(f"s{t + 1} as ({_hc_iter_sql('e0', f's{t}')})")
    return "with " + ", ".join(ctes) + " " + _hc_final_sql(f"s{_HC_ROUNDS}")


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


def q_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(_rich_club_sql(SPARK))


def q_rich_club_oracle() -> str:
    return _rich_club_sql(DUCK)


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


def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(_assortativity_sql(SPARK))


def q_assortativity_oracle() -> str:
    return _assortativity_sql(DUCK)


# ---------------------------------------------------------------------------
# HITS hub/authority scores (Kleinberg 1999, integer fixed-point rounds)
# ---------------------------------------------------------------------------
_HITS_ROUNDS = 3
_HITS_SCALE = 1000000


def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, hub_q6, auth_q6): Kleinberg HITS on the directed link
    graph — hubs point at good authorities, authorities are pointed at
    by good hubs — run 3 synchronous rounds with integer max-
    normalization (score·10⁶ div max — exact, so the fixed point is
    bit-reproducible, the pagerank integer discipline).

    Scale: each half-round is one join + map-side-combined sum on the
    edge relation + a 1-row max broadcast; rounds iterate with
    localCheckpoint (never one SQL text — the 2^K re-inline lesson)."""
    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    n_expr = "(select count(*) from documents)"
    spark.sql(
        f"select distinct src, dst from ({edges_sql(SPARK, 'documents', n_expr)}) "
        f"where src <> dst"
    ).localCheckpoint(eager=False).createOrReplaceTempView("__hits_e")
    spark.sql(
        f"select doc_id as node, cast({_HITS_SCALE} as bigint) as s "
        f"from documents"
    ).localCheckpoint(eager=False).createOrReplaceTempView("__hits_h0")
    hubs = "__hits_h0"
    for t in range(_HITS_ROUNDS):
        raw_a = spark.sql(
            f"select e.dst as node, cast(sum(h.s) as bigint) as raw "
            f"from __hits_e e join {hubs} h on h.node = e.src group by e.dst"
        ).localCheckpoint(eager=False)
        raw_a.createOrReplaceTempView(f"__hits_ra{t}")
        spark.sql(
            f"select node, cast(raw * {_HITS_SCALE} div "
            f"(select max(raw) from __hits_ra{t}) as bigint) as s "
            f"from __hits_ra{t}"
        ).localCheckpoint(eager=False).createOrReplaceTempView(
            f"__hits_a{t}"
        )
        raw_h = spark.sql(
            f"select e.src as node, cast(sum(a.s) as bigint) as raw "
            f"from __hits_e e join __hits_a{t} a on a.node = e.dst "
            f"group by e.src"
        ).localCheckpoint(eager=False)
        raw_h.createOrReplaceTempView(f"__hits_rh{t}")
        spark.sql(
            f"select node, cast(raw * {_HITS_SCALE} div "
            f"(select max(raw) from __hits_rh{t}) as bigint) as s "
            f"from __hits_rh{t}"
        ).localCheckpoint(eager=False).createOrReplaceTempView(
            f"__hits_h{t + 1}"
        )
        hubs = f"__hits_h{t + 1}"
    return spark.sql(f"""
        select d.doc_id,
               cast(coalesce(h.s, 0) as bigint) as hub_q6,
               cast(coalesce(a.s, 0) as bigint) as auth_q6
        from documents d
        left join {hubs} h on h.node = d.doc_id
        left join __hits_a{_HITS_ROUNDS - 1} a on a.node = d.doc_id
        where coalesce(h.s, 0) > 0 or coalesce(a.s, 0) > 0""")


def q_hits_oracle() -> str:
    n_expr = "(select count(*) from documents)"
    ctes = [
        f"e0 as materialized (select distinct src, dst from "
        f"({edges_sql(DUCK, 'documents', n_expr)}) where src <> dst)",
        f"h0 as materialized (select doc_id as node, "
        f"cast({_HITS_SCALE} as bigint) as s from documents)",
    ]
    hubs = "h0"
    for t in range(_HITS_ROUNDS):
        ctes.append(
            f"ra{t} as materialized (select e.dst as node, "
            f"cast(sum(h.s) as bigint) as raw from e0 e "
            f"join {hubs} h on h.node = e.src group by e.dst)"
        )
        ctes.append(
            f"a{t} as materialized (select node, cast(raw * {_HITS_SCALE} "
            f"// (select max(raw) from ra{t}) as bigint) as s from ra{t})"
        )
        ctes.append(
            f"rh{t} as materialized (select e.src as node, "
            f"cast(sum(a.s) as bigint) as raw from e0 e "
            f"join a{t} a on a.node = e.dst group by e.src)"
        )
        ctes.append(
            f"h{t + 1} as materialized (select node, cast(raw * {_HITS_SCALE}"
            f" // (select max(raw) from rh{t}) as bigint) as s from rh{t})"
        )
        hubs = f"h{t + 1}"
    return (
        "with " + ", ".join(ctes)
        + f""" select d.doc_id,
               cast(coalesce(h.s, 0) as bigint) as hub_q6,
               cast(coalesce(a.s, 0) as bigint) as auth_q6
        from documents d
        left join {hubs} h on h.node = d.doc_id
        left join a{_HITS_ROUNDS - 1} a on a.node = d.doc_id
        where coalesce(h.s, 0) > 0 or coalesce(a.s, 0) > 0"""
    )


QUERIES = {
    "pagerank": (q_pagerank, q_pagerank_oracle),
    "clustering_coeff": (q_clustering_coeff, q_clustering_coeff_oracle),
    "hyperanf": (q_hyperanf, q_hyperanf_oracle),
    "triangles": (q_triangles, q_triangles_oracle),
    "sssp": (q_sssp, q_sssp_oracle),
    "modularity": (q_modularity, q_modularity_oracle),
    "k_core": (q_k_core, q_k_core_oracle),
    "label_prop": (q_label_prop, q_label_prop_oracle),
    "link_predict": (q_link_predict, q_link_predict_oracle),
    "harmonic_centrality": (q_harmonic_centrality, q_harmonic_centrality_oracle),
    "rich_club": (q_rich_club, q_rich_club_oracle),
    "degree_assortativity": (q_assortativity, q_assortativity_oracle),
    "hits_scores": (q_hits, q_hits_oracle),
}
