"""Terrain-domain registry queries (plans/queries/terrain.py) vs exact
Python replays over the synthesized elevation raster: hillshade,
D8 flow direction/accumulation, Strahler order, watersheds, viewshed,
cost distance and least-cost paths, way splitting, local Moran's I and
the spatial-structure/anisotropy variograms.

Oracle agreement (tools/verify_oracle.py) proves cross-engine consistency;
these replays prove the math on the sf0.001 corpus (LANDING.md step 5)."""

import heapq
import math
from collections import defaultdict

import pytest

from osm_to_netex_spark.plans import queries as Q
from osm_to_netex_spark.plans.queries import corpus as CORPUS, terrain as TERRAIN
from tests.support import SF, phash60

pytestmark = pytest.mark.usefixtures("fresh_views")


RES = 12


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
            h = phash60(f"42:ras:{iy}:{ix}")
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


def _observer():
    ix_lo, ix_hi, iy_lo, iy_hi = TERRAIN._grid_bounds()
    return (ix_lo + ix_hi) // 2, (iy_lo + iy_hi) // 2


def _supercover(ox, oy, tx, ty):
    """Cells whose [j±0.5] square the segment (ox,oy)->(tx,ty) crosses,
    via the same slab test the SQL runs."""
    out = []
    for cy in range(min(oy, ty), max(oy, ty) + 1):
        for cx in range(min(ox, tx), max(ox, tx) + 1):
            x0, x1 = cx - 0.5, cx + 0.5
            y0, y1 = cy - 0.5, cy + 0.5
            if tx == ox:
                hit = x0 <= ox <= x1
            elif ty == oy:
                hit = y0 <= oy <= y1
            else:
                txs = sorted(((x0 - ox) / (tx - ox), (x1 - ox) / (tx - ox)))
                tys = sorted(((y0 - oy) / (ty - oy), (y1 - oy) / (ty - oy)))
                hit = max(txs[0], tys[0], 0.0) <= min(txs[1], tys[1], 1.0)
            if hit:
                out.append((cx, cy))
    return out


def test_viewshed_matches_python_los(spark):
    got = {
        (r["ix"], r["iy"]): (r["visible"], r["n_crossed"])
        for r in Q.QUERIES["viewshed"][0](spark, SF).collect()
    }
    ras = _raster()
    ox, oy = _observer()
    cx_m, cy_m = TERRAIN._cell_sizes()
    z_obs = ras[(ox, oy)] + TERRAIN._OBS_H

    def dist(jx, jy):
        return math.sqrt(
            ((jx - ox) * cx_m) ** 2 + ((jy - oy) * cy_m) ** 2
        )

    want = {}
    for (tx, ty), zt in ras.items():
        if (tx, ty) == (ox, oy):
            continue
        inter = [
            c for c in _supercover(ox, oy, tx, ty)
            if c != (ox, oy) and c != (tx, ty)
        ]
        blocked = any(
            (ras[c] - z_obs) * dist(tx, ty) >= (zt - z_obs) * dist(*c)
            for c in inter
        )
        want[(tx, ty)] = (0 if blocked else 1, len(inter))
    assert got == want


def test_cost_distance_matches_python_dijkstra(spark):
    got = {
        (r["ix"], r["iy"]): r["cost_q3"]
        for r in Q.QUERIES["cost_distance"][0](spark, SF).collect()
    }
    ras = _raster()
    src = min(ras, key=lambda c: (ras[c], c[0], c[1]))
    offs = TERRAIN._d8_offsets()
    dist = {src: 0}
    pq_ = [(0, src)]
    while pq_:
        d0, u = heapq.heappop(pq_)
        if d0 > dist[u]:
            continue
        for _, dx, dy, step_m in offs:
            v = (u[0] + dx, u[1] + dy)
            if v not in ras:
                continue
            w = math.floor(
                (step_m + 10.0 * abs(ras[v] - ras[u])) * 1.0e3 + 0.5
            )
            nd = d0 + w
            if nd < dist.get(v, 1 << 62):
                dist[v] = nd
                heapq.heappush(pq_, (nd, v))
    assert got == dist
    # K synchronous rounds ≥ Chebyshev diameter must have settled all cells
    assert len(got) == len(ras)


def test_cost_distance_leaves_the_session_views_as_it_found_them(spark):
    CORPUS.register_geometry_views(spark, SF)
    before = sorted(t.name for t in spark.catalog.listTables())
    surface = Q.QUERIES["cost_distance"][0](spark, SF)
    assert sorted(t.name for t in spark.catalog.listTables()) == before
    # the frame holds its staged rounds, not their dropped view names
    assert surface.count() == len(_raster())


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


def test_spatial_structure_matches_python_replay(spark):
    got = {
        r["lag_h"]: (
            r["n_pairs"], r["sum_dsq"], r["sum_cc"], r["semivariance"],
            r["moran_i"],
        )
        for r in Q.QUERIES["spatial_structure"][0](spark, SF).collect()
    }
    import math

    ras = {c: math.floor(v * 1.0e3 + 0.5) for c, v in _raster().items()}
    n, s = len(ras), sum(ras.values())
    mean_t = s // n if s >= 0 else -((-s) // n)  # SQL trunc division
    ctr = {c: v - mean_t for c, v in ras.items()}
    scc = sum(c * c for c in ctr.values())
    want = {}
    for h in range(1, TERRAIN._SS_MAX_LAG + 1):
        dsq = cc = np = 0
        for (ix, iy), v in ras.items():
            for dx, dy in TERRAIN._ring_offsets(h):
                o = (ix + dx, iy + dy)
                if o in ras:
                    np += 1
                    dsq += (v - ras[o]) ** 2
                    cc += ctr[(ix, iy)] * ctr[o]
        want[h] = (
            np, dsq, cc,
            round(dsq / (2.0 * np) / 1.0e6, 9),
            round((cc / np) / (scc / n), 9),
        )
    assert got == want
    # structure sanity: spatial dependence decays — lag-1 Moran exceeds
    # lag-4, and the semivariogram is higher at lag 4 than lag 1
    assert got[1][4] > got[4][4]
    assert got[4][3] > got[1][3]


def _flow_step():
    fdir = _python_flow_dir()
    offs = TERRAIN._d8_offsets()
    return fdir, {
        (ix, iy): (ix + offs[d][1], iy + offs[d][2])
        for (ix, iy), d in fdir.items()
        if d >= 0
    }


def test_strahler_matches_python_replay(spark):
    got = {
        (r["ix"], r["iy"]): r["strahler_order"]
        for r in Q.QUERIES["strahler"][0](spark, SF).collect()
    }
    fdir, step = _flow_step()
    children = defaultdict(list)
    for src, dst in step.items():
        children[dst].append(src)
    # every forest node: fdir cells + boundary sinks that receive flow
    nodes = set(fdir) | set(children)
    order = {}
    changed = True
    while changed:
        changed = False
        for v in nodes:
            if v in order:
                continue
            ch = children.get(v, [])
            if any(c not in order for c in ch):
                continue
            if not ch:
                order[v] = 1
            else:
                mx = max(order[c] for c in ch)
                ties = sum(1 for c in ch if order[c] == mx)
                order[v] = mx + (1 if ties >= 2 else 0)
            changed = True
    assert got == order
    # the settlement rounds covered the whole forest
    assert set(got) == nodes
    assert max(got.values()) >= 2  # confluences exist on this raster


def test_watershed_matches_python_walk(spark):
    got = {
        (r["ix"], r["iy"]): (r["basin_ix"], r["basin_iy"])
        for r in Q.QUERIES["watershed"][0](spark, SF).collect()
    }
    fdir, step = _flow_step()
    want = {}
    for c in fdir:
        cur = c
        while cur in step:
            cur = step[cur]
        want[c] = cur
    assert got == want
    # basin terminals are true sinks: no outgoing pointer
    for terminal in set(want.values()):
        assert terminal not in step
    # multiple basins exist on this raster
    assert len(set(want.values())) > 1


def test_terrain_indices_match_python_replay(spark):
    got = {
        (r["ix"], r["iy"]): (r["tri_m"], r["tpi_m"], r["slope_position"])
        for r in Q.QUERIES["terrain_indices"][0](spark, SF).collect()
    }
    ras = {c: math.floor(v * 1.0e3 + 0.5) for c, v in _raster().items()}
    offs = [(dx, dy) for _, dx, dy, _ in TERRAIN._d8_offsets()]
    want = {}
    for (ix, iy), v in ras.items():
        nbs = [
            ras[(ix + dx, iy + dy)]
            for dx, dy in offs
            if (ix + dx, iy + dy) in ras
        ]
        if len(nbs) != 8:
            continue
        ssq = sum((v - z) ** 2 for z in nbs)
        tpi_scaled = v * 8 - sum(nbs)
        pos = (
            "ridge" if tpi_scaled > 4000000
            else "upper" if tpi_scaled > 800000
            else "flat" if tpi_scaled >= -800000
            else "lower" if tpi_scaled >= -4000000
            else "valley"
        )
        want[(ix, iy)] = (
            round(math.sqrt(ssq) / 1.0e3, 9),
            round((tpi_scaled / 8.0) / 1.0e3, 9),
            pos,
        )
    assert got == want
    # classes on a hash-noise raster must span more than one band
    assert len({v[2] for v in want.values()}) >= 4


def test_edge_profiles_match_python_replay(spark):
    got = {
        (r["way_id"], r["edge_idx"]): (
            r["n_nodes"], r["z_min_q3"], r["z_max_q3"], r["climb_q3"]
        )
        for r in Q.QUERIES["edge_profiles"][0](spark, SF).collect()
    }
    import math

    z = {
        iy * 100000 + ix: math.floor(v * 1.0e3 + 0.5)
        for (ix, iy), v in _raster().items()
    }
    ways = _python_ways()
    use = defaultdict(set)
    for wid, nodes in ways.items():
        for nd in nodes:
            use[nd].add(wid)
    junctions = {nd for nd, ws in use.items() if len(ws) >= 2}
    want = {}
    for wid, nodes in ways.items():
        cuts = [
            i for i, nd in enumerate(nodes)
            if nd in junctions or i == 0 or i == len(nodes) - 1
        ]
        for k in range(len(cuts) - 1):
            a, b = cuts[k], cuts[k + 1]
            zs = [z[nd] for nd in nodes[a:b + 1]]
            climb = sum(
                max(0, zs[i] - zs[i - 1]) for i in range(1, len(zs))
            )
            want[(wid, k + 1)] = (len(zs), min(zs), max(zs), climb)
    assert got == want
    assert any(v[3] > 0 for v in want.values())  # real climbs exist


def test_lcp_path_matches_python_dijkstra_backtrack(spark):
    got = [
        (r["ix"], r["iy"], r["cost_q3"])
        for r in sorted(
            Q.QUERIES["lcp_path"][0](spark, SF).collect(),
            key=lambda r: r["step"],
        )
    ]
    ras = _raster()
    src = min(ras, key=lambda c: (ras[c], c[0], c[1]))
    offs = TERRAIN._d8_offsets()
    dist = {src: 0}
    pq_ = [(0, src)]
    while pq_:
        d0, u = heapq.heappop(pq_)
        if d0 > dist[u]:
            continue
        for _, dx, dy, step_m in offs:
            v = (u[0] + dx, u[1] + dy)
            if v not in ras:
                continue
            w = math.floor(
                (step_m + 10.0 * abs(ras[v] - ras[u])) * 1.0e3 + 0.5
            )
            if d0 + w < dist.get(v, 1 << 62):
                dist[v] = d0 + w
                heapq.heappush(pq_, (d0 + w, v))

    def pred(c):
        # packed argmin replay: min over (cand_cost, src_ix, src_iy)
        best = None
        for _, dx, dy, step_m in offs:
            n = (c[0] - dx, c[1] - dy)  # n + (dx,dy) = c
            if n not in ras:
                continue
            w = math.floor(
                (step_m + 10.0 * abs(ras[c] - ras[n])) * 1.0e3 + 0.5
            )
            key = (dist[n] + w, n[0], n[1])
            if best is None or key < best:
                best = key
        return (best[1], best[2])

    target = max(dist.items(), key=lambda kv: (kv[1], kv[0][0], kv[0][1]))[0]
    path = [target]
    while path[-1] != src:
        path.append(pred(path[-1]))
    path.reverse()
    want = [(c[0], c[1], dist[c]) for c in path]
    assert got == want
    # path sanity: starts at source, strictly increasing cost, 8-connected
    assert got[0][:2] == src and got[0][2] == 0
    for a, b in zip(got, got[1:]):
        assert b[2] > a[2]
        assert max(abs(b[0] - a[0]), abs(b[1] - a[1])) == 1


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
