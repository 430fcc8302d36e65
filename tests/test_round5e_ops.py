"""Round-5 batch E vs exact Python replays (LANDING.md step 5):
way splitting at junctions, local Moran / LISA.
"""

import math
from collections import defaultdict

from osm_to_netex_spark.plans import queries as Q
from osm_to_netex_spark.plans.queries import terrain as TERRAIN

from tests.test_round5c_ops import _raster  # noqa: F401

SF = "/root/testdata/sf0.001"


def _python_ways():
    ix_lo, ix_hi, iy_lo, iy_hi = TERRAIN._grid_bounds()
    ways = {}
    for iy in range(iy_lo, iy_hi + 1):
        if iy % TERRAIN._WS_H_EVERY == 0:
            ways[10000 + iy] = [
                iy * 100000 + ix for ix in range(ix_lo, ix_hi + 1)
            ]
    for ix in range(ix_lo, ix_hi + 1):
        if ix % TERRAIN._WS_V_EVERY == 0:
            ways[20000 + ix] = [
                iy * 100000 + ix for iy in range(iy_lo, iy_hi + 1)
            ]
    return ways


def test_way_split_matches_python_replay(spark):
    got = {
        (r["way_id"], r["edge_idx"]): (
            r["from_node"], r["to_node"], r["n_nodes"]
        )
        for r in Q.QUERIES["way_split"][0](spark, SF).collect()
    }
    ways = _python_ways()
    use_count = defaultdict(set)
    for wid, nodes in ways.items():
        for nd in nodes:
            use_count[nd].add(wid)
    junctions = {nd for nd, ws in use_count.items() if len(ws) >= 2}
    want = {}
    for wid, nodes in ways.items():
        cut_pos = [
            i for i, nd in enumerate(nodes)
            if nd in junctions or i == 0 or i == len(nodes) - 1
        ]
        for k in range(len(cut_pos) - 1):
            a, b = cut_pos[k], cut_pos[k + 1]
            want[(wid, k + 1)] = (nodes[a], nodes[b], b - a + 1)
    assert got == want
    # topology sanity: every interior junction is both a to_node and the
    # next edge's from_node on its own way
    assert any(v[2] > 2 for v in want.values())  # non-trivial segments exist


def test_local_moran_matches_python_replay(spark):
    got = {
        (r["ix"], r["iy"]): (
            r["z_scaled"], r["lag_scaled"], r["i_scaled"], r["quad"]
        )
        for r in Q.QUERIES["local_moran"][0](spark, SF).collect()
    }
    ras = {c: math.floor(v * 1.0e3 + 0.5) for c, v in _raster().items()}
    n, s = len(ras), sum(ras.values())
    z = {c: v * n - s for c, v in ras.items()}
    offs = [(dx, dy) for _, dx, dy, _ in TERRAIN._d8_offsets()]
    want = {}
    for (ix, iy), zc in z.items():
        nbs = [
            z[(ix + dx, iy + dy)]
            for dx, dy in offs
            if (ix + dx, iy + dy) in z
        ]
        z_sum, n_nb = sum(nbs), len(nbs)
        # SQL integer division truncates toward zero in BOTH engines
        # (verified: -7 div 2 = -3 in Spark, -7 // 2 = -3 in DuckDB);
        # Python's // floors, hence the sign-split here
        lag = z_sum // n_nb if z_sum >= 0 else -((-z_sum) // n_nb)
        quad = (
            "HH" if zc > 0 and z_sum > 0
            else "LL" if zc < 0 and z_sum < 0
            else "HL" if zc > 0 and z_sum < 0
            else "LH" if zc < 0 and z_sum > 0
            else "NS"
        )
        want[(ix, iy)] = (zc, lag, zc * lag, quad)
    assert got == want
