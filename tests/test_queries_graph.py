"""Graph-domain registry queries (plans/queries/graph.py) vs exact Python
replays: harmonic centrality, rich club, assortativity and HITS.

Oracle agreement (tools/verify_oracle.py) proves cross-engine consistency;
these replays prove the math on the sf0.001 corpus (LANDING.md step 5)."""

import math
from collections import defaultdict

import pyarrow.parquet as pq
import pytest

from osm_to_netex_spark.operators.graph import HUB_MOD, K_LINKS
from osm_to_netex_spark.plans import queries as Q
from osm_to_netex_spark.plans.queries import graph as GRAPH
from tests.support import SF, phash60

pytestmark = pytest.mark.usefixtures("fresh_views")


def test_harmonic_centrality_matches_python_bfs(spark):
    got = {
        r["doc_id"]: (r["n_reached"], r["harmonic_q6"])
        for r in Q.QUERIES["harmonic_centrality"][0](spark, SF).collect()
    }
    docs = [
        r["doc_id"]
        for r in pq.read_table(f"{SF}/documents.parquet", columns=["doc_id"])
        .to_pylist()
    ]
    n = len(docs)
    adj = defaultdict(set)
    for doc_id in docs:
        for j in range(K_LINKS):
            mod = min(HUB_MOD, n) if j == K_LINKS - 1 else n
            dst = phash60(f"lnk:{doc_id}:{j}") % mod
            if dst != doc_id:
                adj[doc_id].add(dst)
                adj[dst].add(doc_id)
    want = {}
    for src in docs:
        if src % GRAPH._HC_MOD != 0:
            continue
        dist = {src: 0}
        frontier = [src]
        for dd in range(1, GRAPH._HC_ROUNDS + 1):
            nxt = []
            for u in frontier:
                for v in adj[u]:
                    if v not in dist:
                        dist[v] = dd
                        nxt.append(v)
            frontier = nxt
        want[src] = (
            len(dist) - 1,
            sum(GRAPH._HC_W[dd] for dd in dist.values() if dd > 0),
        )
    assert got == want


def _edges():
    docs = [
        r["doc_id"]
        for r in pq.read_table(f"{SF}/documents.parquet", columns=["doc_id"])
        .to_pylist()
    ]
    n = len(docs)
    edges = set()
    for doc_id in docs:
        for j in range(K_LINKS):
            mod = min(HUB_MOD, n) if j == K_LINKS - 1 else n
            dst = phash60(f"lnk:{doc_id}:{j}") % mod
            if dst != doc_id:
                edges.add((min(doc_id, dst), max(doc_id, dst)))
    return edges


def test_sssp_leaves_the_session_views_as_it_found_them(spark):
    before = sorted(t.name for t in spark.catalog.listTables())
    dist = Q.QUERIES["sssp"][0](spark, SF)
    assert sorted(t.name for t in spark.catalog.listTables()) == before
    # the frame holds its staged rounds, not their dropped view names
    assert dist.where("dist = 0").count() > 0


def test_rich_club_matches_python_replay(spark):
    got = {
        r["k"]: (r["n_k"], r["e_k"])
        for r in Q.QUERIES["rich_club"][0](spark, SF).collect()
    }
    edges = _edges()
    deg = defaultdict(int)
    for u, w in edges:
        deg[u] += 1
        deg[w] += 1
    want = {}
    for k in range(1, 7):
        club = {v for v, dg in deg.items() if dg > k}
        if len(club) < 2:
            continue
        e_k = sum(1 for u, w in edges if u in club and w in club)
        want[k] = (len(club), e_k)
    assert got == want
    # rich-club density must exceed (or equal) the global density at
    # some k — the statistic's reason to exist
    m, n = len(edges), len(deg)
    global_density = 2 * m / (n * (n - 1))
    assert any(
        2 * e / (nk * (nk - 1)) >= global_density
        for nk, e in want.values()
    )


def test_assortativity_matches_python_replay(spark):
    row = Q.QUERIES["degree_assortativity"][0](spark, SF).collect()[0]
    edges = _edges()
    deg = defaultdict(int)
    for u, w in edges:
        deg[u] += 1
        deg[w] += 1
    xs, ys = [], []
    for u, w in edges:
        xs += [deg[u], deg[w]]
        ys += [deg[w], deg[u]]
    m = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    r = (m * sxy - sx * sy) / (
        math.sqrt(m * sxx - sx * sx) * math.sqrt(m * syy - sy * sy)
    )
    assert (row["m"], row["sx"], row["sxy"]) == (m, sx, sxy)
    assert row["assortativity"] == round(r, 9)
    assert -1.0 <= row["assortativity"] <= 1.0


def test_hits_matches_python_replay(spark):
    got = {
        r["doc_id"]: (r["hub_q6"], r["auth_q6"])
        for r in Q.QUERIES["hits_scores"][0](spark, SF).collect()
    }
    docs = [
        r["doc_id"]
        for r in pq.read_table(f"{SF}/documents.parquet", columns=["doc_id"])
        .to_pylist()
    ]
    n = len(docs)
    edges = set()
    for doc_id in docs:
        for j in range(K_LINKS):
            mod = min(HUB_MOD, n) if j == K_LINKS - 1 else n
            dst = phash60(f"lnk:{doc_id}:{j}") % mod
            if dst != doc_id:
                edges.add((doc_id, dst))
    S = GRAPH._HITS_SCALE
    h = {d: S for d in docs}
    a = {}
    for _ in range(GRAPH._HITS_ROUNDS):
        raw_a = defaultdict(int)
        for u, v in edges:
            raw_a[v] += h.get(u, 0)
        mx = max(raw_a.values())
        a = {v: r * S // mx for v, r in raw_a.items()}
        raw_h = defaultdict(int)
        for u, v in edges:
            raw_h[u] += a.get(v, 0)
        mx = max(raw_h.values())
        h = {u: r * S // mx for u, r in raw_h.items()}
    want = {
        d: (h.get(d, 0), a.get(d, 0))
        for d in docs
        if h.get(d, 0) > 0 or a.get(d, 0) > 0
    }
    assert got == want
    # the deliberate in-degree skew (HUB_MOD) must surface as high
    # authority on the hub set
    top_auth = max(want.values(), key=lambda x: x[1])[1]
    assert top_auth == GRAPH._HITS_SCALE
