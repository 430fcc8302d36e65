"""Round-5 batch Q vs exact Python replays (LANDING.md step 5):
anisotropy, rich-club, assortativity, power analysis.
"""

import hashlib
import math
from collections import defaultdict

import pyarrow.parquet as pq

from osm_to_netex_spark.operators.graph import HUB_MOD, K_LINKS
from osm_to_netex_spark.plans import queries as Q
from osm_to_netex_spark.plans.queries import stats as STATS, terrain as TERRAIN

from tests.test_round5c_ops import _raster

SF = "/root/testdata/sf0.001"


def _phash60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


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
            dst = _phash60(f"lnk:{doc_id}:{j}") % mod
            if dst != doc_id:
                edges.add((min(doc_id, dst), max(doc_id, dst)))
    return edges


def test_anisotropy_matches_python_replay(spark):
    got = {
        (r["lag_h"], r["dir_class"]): (r["n_pairs"], r["sum_dsq"])
        for r in Q.QUERIES["anisotropy"][0](spark, SF).collect()
    }
    ras = {c: math.floor(v * 1.0e3 + 0.5) for c, v in _raster().items()}
    want = defaultdict(lambda: [0, 0])
    for h in range(1, TERRAIN._AN_MAX_LAG + 1):
        for dx in range(-h, h + 1):
            for dy in range(-h, h + 1):
                if max(abs(dx), abs(dy)) != h:
                    continue
                klass = "ew" if dy == 0 else "ns" if dx == 0 else "diag"
                for (ix, iy), v in ras.items():
                    o = (ix + dx, iy + dy)
                    if o in ras:
                        want[(h, klass)][0] += 1
                        want[(h, klass)][1] += (v - ras[o]) ** 2
    assert got == {k: tuple(v) for k, v in want.items()}


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


def test_power_analysis_matches_python_replay(spark):
    got = {
        r["event_type"]: (r["n"], r["n_per_arm"])
        for r in Q.QUERIES["power_analysis"][0](spark, SF).collect()
    }
    ev = pq.read_table(f"{SF}/events.parquet").to_pylist()
    agg = defaultdict(list)
    for e in ev:
        agg[e["event_type"]].append(math.floor(e["value"] * 1.0e3 + 0.5))
    z2 = (STATS._PW_Z_ALPHA + STATS._PW_Z_BETA) ** 2
    want = {}
    for et, xs in agg.items():
        n, sx = len(xs), sum(xs)
        sxx = sum(x * x for x in xs)
        var = (sxx - sx * sx / n) / (n - 1)
        mean = sx / n
        delta = mean * (STATS._PW_MDE_PCT / 100.0)
        want[et] = (n, math.ceil(2.0 * z2 * var / (delta * delta)))
    assert got == want
    # sanity: detecting a smaller relative effect on noisier data needs
    # thousands of samples per arm here, not tens
    assert all(v[1] > 100 for v in want.values())
