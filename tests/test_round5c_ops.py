"""Geo/graph round-5 batch vs exact Python replays (LANDING.md step 5):
hillshade, D8 flow direction/accumulation, bounded-radius harmonic
centrality, exact exponential smoothing.  Oracle agreement
(tools/verify_oracle.py) proves cross-engine consistency; these replays
prove the math on the bounded raster / sf0.001 corpus in plain Python.
"""

import hashlib
import math
from collections import defaultdict

import pyarrow.parquet as pq

from osm_to_netex_spark.operators.graph import K_LINKS, HUB_MOD
from osm_to_netex_spark.plans import queries as Q
from osm_to_netex_spark.plans.queries import (
    corpus as CORPUS,
    graph as GRAPH,
    stats as STATS,
    terrain as TERRAIN,
)

SF = "/root/testdata/sf0.001"
RES = 12


def _phash60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _raster() -> dict[tuple[int, int], float]:
    """Python replica of terrain._raster_cte's synthesized elevations."""
    n = 2**RES
    iy_lo = int((CORPUS.LAT_LO + 90.0) / 180.0 * n)
    iy_hi = int((CORPUS.LAT_HI + 90.0) / 180.0 * n)
    ix_lo = int((CORPUS.LON_LO + 180.0) / 360.0 * n)
    ix_hi = int((CORPUS.LON_HI + 180.0) / 360.0 * n)
    out = {}
    for iy in range(iy_lo, iy_hi + 1):
        for ix in range(ix_lo, ix_hi + 1):
            h = _phash60(f"42:ras:{iy}:{ix}")
            out[(ix, iy)] = round(h / 2.0**60 * 2000.0, 3)
    return out


def test_hillshade_matches_python_replay(spark):
    got = {
        (r["ix"], r["iy"]): (r["shade_q6"], r["hs8"])
        for r in Q.QUERIES["hillshade"][0](spark, SF).collect()
    }
    ras = _raster()
    cx, cy = TERRAIN._cell_sizes()
    alt = math.radians(45.0)
    az = math.radians(315.0)
    sin_alt = math.sin(alt)
    ca_sa, ca_ca = math.cos(alt) * math.sin(az), math.cos(alt) * math.cos(az)
    want = {}
    for (ix, iy), v in ras.items():
        nb = {
            k: ras.get((ix + dx, iy + dy))
            for k, (dx, dy) in {
                "e": (1, 0), "w": (-1, 0), "n": (0, 1), "s": (0, -1),
                "ne": (1, 1), "nw": (-1, 1), "se": (1, -1), "sw": (-1, -1),
            }.items()
        }
        if any(x is None for x in nb.values()):
            continue
        gx = ((nb["ne"] + 2.0 * nb["e"] + nb["se"])
              - (nb["nw"] + 2.0 * nb["w"] + nb["sw"])) / (8.0 * cx)
        gy = ((nb["ne"] + 2.0 * nb["n"] + nb["nw"])
              - (nb["se"] + 2.0 * nb["s"] + nb["sw"])) / (8.0 * cy)
        shade = (sin_alt - ca_sa * gx - ca_ca * gy) / math.sqrt(
            1.0 + gx * gx + gy * gy
        )
        shade = max(0.0, shade)
        want[(ix, iy)] = (
            math.floor(shade * 1.0e6 + 0.5),
            math.floor(shade * 255.0 + 0.5),
        )
    assert got == want


def _python_flow_dir() -> dict[tuple[int, int], int]:
    ras = _raster()
    best = {}
    offs = TERRAIN._d8_offsets()
    for (ix, iy), v in ras.items():
        packed = None
        n_nb = 0
        for dr, dx, dy, dist in offs:
            nv = ras.get((ix + dx, iy + dy))
            if nv is None:
                continue
            n_nb += 1
            slope_q9 = math.floor((v - nv) / dist * 1.0e9 + 0.5)
            if slope_q9 > 0:
                p = slope_q9 * 8 + (7 - dr)
                packed = p if packed is None else max(packed, p)
        if n_nb == 8:
            best[(ix, iy)] = -1 if packed is None else 7 - (packed % 8)
    return best


def test_flow_dir_matches_python_replay(spark):
    got = {
        (r["ix"], r["iy"]): r["flow_dir"]
        for r in Q.QUERIES["flow_dir"][0](spark, SF).collect()
    }
    assert got == _python_flow_dir()


def test_flow_accum_matches_python_walk(spark):
    got = {
        (r["ix"], r["iy"]): r["accum"]
        for r in Q.QUERIES["flow_accum"][0](spark, SF).collect()
    }
    fdir = _python_flow_dir()
    step = {
        (ix, iy): (
            ix + TERRAIN._d8_offsets()[d][1],
            iy + TERRAIN._d8_offsets()[d][2],
        )
        for (ix, iy), d in fdir.items()
        if d >= 0
    }
    want = {c: 1 for c in fdir}
    for src in step:
        cur = src
        seen = set()
        while cur in step and cur not in seen:
            seen.add(cur)
            cur = step[cur]
            if cur in want:
                want[cur] += 1
    assert got == want


def test_flow_accum_strictly_descending_paths():
    # the flow graph must be acyclic for the closure to terminate: every
    # pointer goes to a strictly lower quantized elevation
    ras = _raster()
    fdir = _python_flow_dir()
    for (ix, iy), d in fdir.items():
        if d < 0:
            continue
        _, dx, dy, _ = TERRAIN._d8_offsets()[d]
        assert ras[(ix + dx, iy + dy)] < ras[(ix, iy)]


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
            dst = _phash60(f"lnk:{doc_id}:{j}") % mod
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


def test_exp_smooth_matches_sequential_recurrence(spark):
    """The closed-form binary-weight fold must equal the textbook
    sequential recurrence l_t = (x_t + l_{t-1}) / 2 run over the window,
    computed in exact integer halves."""
    got = {
        r["user_id"]: (r["n_events"], r["level_scaled"], r["level_q6"])
        for r in Q.QUERIES["exp_smooth"][0](spark, SF).collect()
    }
    ev = pq.read_table(f"{SF}/events.parquet").to_pylist()
    by_user = defaultdict(list)
    for e in ev:
        by_user[e["user_id"]].append(e)
    want = {}
    for uid, rows in by_user.items():
        rows.sort(key=lambda e: (e["ts"], e["event_id"]))
        window = rows[-STATS._ES_M:]
        xq = [math.floor(e["value"] * 1.0e6 + 0.5) for e in window]
        m = len(xq)
        # closed form
        scaled = xq[0] + sum(x * 2 ** (j - 2) for j, x in enumerate(xq[1:], 2))
        # sequential recurrence, scaled by 2^(t-1) to stay integral
        l_scaled = xq[0]
        for t, x in enumerate(xq[1:], 2):
            l_scaled = x * 2 ** (t - 2) + l_scaled  # 2^(t-1)·l_t
        assert l_scaled == scaled
        half = 2 ** (m - 2) if m > 1 else 0
        want[uid] = (m, scaled, (scaled + half) // 2 ** (m - 1))
    assert got == want
