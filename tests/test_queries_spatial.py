"""Spatial-domain registry queries (plans/queries/spatial.py) vs exact
Python replays: line rasters, polyline codecs, densify, areal
interpolation, the spatial QA report, facility selection and the cell
diversity measures.

Oracle agreement (tools/verify_oracle.py) proves cross-engine consistency;
these replays prove the math on the sf0.001 corpus (LANDING.md step 5)."""

import math
from collections import defaultdict

import pyarrow.parquet as pq
import pytest

from osm_to_netex_spark.plans import queries as Q
from osm_to_netex_spark.plans.queries import corpus as CORPUS, spatial as SPATIAL
from tests.support import SF, phash60

pytestmark = pytest.mark.usefixtures("fresh_views")


def test_line_raster_matches_python_replay(spark):
    """Exact supercover replay: slab test per (segment, bbox cell) with the
    same IEEE divisions; also sanity — every emitted cell is in its
    segment's bbox cover and endpoints' cells are always emitted."""
    from collections import defaultdict

    from osm_to_netex_spark.plans.queries import corpus as CORPUS

    res = SPATIAL._LR_RES
    n = 2 ** res
    cw, ch = 360.0 / n, 180.0 / n

    def ixy(lat, lon):
        ix = min(max(int(math.floor((lon + 180.0) / 360.0 * n)), 0), n - 1)
        iy = min(max(int(math.floor((lat + 90.0) / 180.0 * n)), 0), n - 1)
        return ix, iy

    CORPUS.register_geometry_views(spark, SF)
    polys = spark.table("geo_polys").collect()
    per_cell = defaultdict(lambda: [0, set()])
    for r in polys:
        pl = list(r["pos_list"])
        pts = [(pl[2 * i], pl[2 * i + 1]) for i in range(len(pl) // 2)]
        for (ay, ax), (by_, bx) in zip(pts, pts[1:]):
            ixl, iyl = ixy(min(ay, by_), min(ax, bx))
            ixh, iyh = ixy(max(ay, by_), max(ax, bx))
            for cy in range(iyl, iyh + 1):
                for cx in range(ixl, ixh + 1):
                    x0, x1 = -180.0 + cx * cw, -180.0 + (cx + 1) * cw
                    y0, y1 = -90.0 + cy * ch, -90.0 + (cy + 1) * ch
                    if bx == ax:
                        hit = x0 <= ax <= x1
                    elif by_ == ay:
                        hit = y0 <= ay <= y1
                    else:
                        dx, dy = bx - ax, by_ - ay
                        t0 = max(min((x0 - ax) / dx, (x1 - ax) / dx),
                                 min((y0 - ay) / dy, (y1 - ay) / dy), 0.0)
                        t1 = min(max((x0 - ax) / dx, (x1 - ax) / dx),
                                 max((y0 - ay) / dy, (y1 - ay) / dy), 1.0)
                        hit = t0 <= t1
                    if hit:
                        key = res * (1 << 58) + cy * (1 << 29) + cx
                        per_cell[key][0] += 1
                        per_cell[key][1].add(r["zone_id"])
    got = {
        r["cell"]: (r["n_segs"], r["n_zones"])
        for r in SPATIAL.QUERIES["line_raster"][0](spark, SF).collect()
    }
    want = {k: (v[0], len(v[1])) for k, v in per_cell.items()}
    assert got == want
    # endpoint cells always emitted (t=0 / t=1 inside the clamp)
    for r in polys:
        pl = list(r["pos_list"])
        ix, iy = ixy(pl[0], pl[1])
        assert res * (1 << 58) + iy * (1 << 29) + ix in got


def _py_polyline(coords):
    out, prev = [], [0, 0]
    for la, lo in coords:
        for ax, v in enumerate((la, lo)):
            q = math.floor(v * 1e5 + 0.5)
            d = q - prev[ax]
            prev[ax] = q
            z = 2 * d if d >= 0 else -2 * d - 1
            while z >= 0x20:
                out.append(chr((z & 31 | 32) + 63))
                z >>= 5
            out.append(chr(z + 63))
    return "".join(out)


def test_polyline_encode_matches_canonical_algorithm(spark):
    """The query's strings equal the canonical Google polyline encoder run
    in Python on the same rings — including the algorithm's published
    worked example."""
    from osm_to_netex_spark.plans.queries import corpus as CORPUS

    assert _py_polyline([(38.5, -120.2), (40.7, -120.95), (43.252, -126.453)]) == (
        "_p~iF~ps|U_ulLnnqC_mqNvxq`@"
    )
    CORPUS.register_geometry_views(spark, SF)
    rings = {
        r["zone_id"]: list(r["pos_list"])
        for r in spark.table("geo_polys").collect()
    }
    got = {
        r["zone_id"]: (r["n_pts"], r["polyline"])
        for r in SPATIAL.QUERIES["polyline_encode"][0](spark, SF).collect()
    }
    assert set(got) == set(rings)
    for zid, pl in rings.items():
        coords = [(pl[2 * i], pl[2 * i + 1]) for i in range(len(pl) // 2)]
        assert got[zid] == (len(coords), _py_polyline(coords))


def test_polyline_roundtrip_exact_inverse(spark):
    rows = SPATIAL.QUERIES["polyline_roundtrip"][0](spark, SF).collect()
    assert rows and all(r["max_abs_err"] == 0 for r in rows)


def test_areal_interp_mass_conservation(spark):
    """Each zone's value spreads as n_cells·(val div n_cells) — the total
    interpolated mass equals the zone total minus the documented integer
    truncation remainders (< n_cells per zone)."""
    rows = Q.QUERIES["areal_interp"][0](spark, SF).collect()
    total = sum(r["total_q2"] for r in rows)
    supp = pq.read_table(f"{SF}/supplier.parquet").to_pylist()
    zone_vals = {
        s["s_suppkey"]: math.floor(s["s_acctbal"] * 100.0 + 0.5) for s in supp
    }
    exact_total = sum(zone_vals.values())
    # truncation loses at most (n_cells - 1) per zone; cover sizes are
    # bounded by the bbox cover at res 12
    assert total <= exact_total
    n_cells_bound = 400
    assert exact_total - total < len(zone_vals) * n_cells_bound
    # per-cell totals are sums of exact integer shares, never negative
    # (acctbal can be negative — shares then negative, still exact)
    n_zones_total = sum(r["n_zones"] for r in rows)
    assert n_zones_total > len(zone_vals)  # zones cover multiple cells


def test_densify_matches_python_replay(spark):
    got = {
        r["zone_id"]: (r["n_segs"], r["len_mm"], r["n_inserted"])
        for r in Q.QUERIES["densify"][0](spark, SF).collect()
    }
    rows = (
        Q.QUERIES["densify"][0](spark, SF)
        .sparkSession.sql("select zone_id, pos_list from geo_polys")
        .collect()
    )
    R = 6371008.8

    def hav(ay, ax, by, bx):
        hlat = math.sin(math.radians(by - ay) / 2.0)
        hlon = math.sin(math.radians(bx - ax) / 2.0)
        return 2.0 * R * math.asin(
            math.sqrt(
                hlat * hlat
                + math.cos(math.radians(ay)) * math.cos(math.radians(by))
                * hlon * hlon
            )
        )

    step_mm = int(SPATIAL._DN_STEP_M * 1000)
    want = {}
    for r in rows:
        pl = r["pos_list"]
        n_segs = len(pl) // 2 - 1
        len_mm = ins = 0
        for i in range(1, n_segs + 1):
            ay, ax = pl[2 * i - 2], pl[2 * i - 1]
            by, bx = pl[2 * i], pl[2 * i + 1]
            leg = math.floor(hav(ay, ax, by, bx) * 1.0e3 + 0.5)
            k = (leg + step_mm - 1) // step_mm
            len_mm += leg
            ins += max(k, 1) - 1
        want[r["zone_id"]] = (n_segs, len_mm, ins)
    assert got == want
    assert any(v[2] > 0 for v in want.values())  # densification non-trivial


def test_spatial_qa_internally_consistent(spark):
    row = Q.QUERIES["spatial_qa"][0](spark, SF).collect()[0]
    # composition check against the already-gated pip operator
    pip_rows = Q.QUERIES["pip"][0](spark, SF).collect()
    assert row["n_assignments"] == len(pip_rows)
    per_point = {}
    for r in pip_rows:
        per_point[r["point_id"]] = per_point.get(r["point_id"], 0) + 1
    assert row["n_orphan_points"] == row["n_points"] - len(per_point)
    assert row["n_ambiguous_points"] == sum(
        1 for v in per_point.values() if v >= 2
    )
    zones = {r["zone_id"] for r in pip_rows}
    assert row["n_empty_zones"] == row["n_zones"] - len(zones)


def test_facility_select_matches_python_greedy(spark):
    got = [
        (r["rank"], r["cx"], r["cy"], r["n_new"], r["n_total"])
        for r in sorted(
            Q.QUERIES["facility_select"][0](spark, SF).collect(),
            key=lambda r: r["rank"],
        )
    ]
    pts = [
        (r["point_id"], r["lat"], r["lon"])
        for r in spark.sql("select point_id, lat, lon from geo_points")
        .collect()
    ]
    n = 2**SPATIAL._FS_RES
    m_deg = CORPUS._M_PER_DEG
    coslat = CORPUS.COSLAT0

    def cell(lat, lon):
        return (
            int(math.floor((lon + 180.0) / 360.0 * n)),
            int(math.floor((lat + 90.0) / 180.0 * n)),
        )

    cover = defaultdict(set)
    cand = {cell(lat, lon) for _, lat, lon in pts}
    r2_mm2 = int(SPATIAL._FS_RADIUS_M**2 * 1.0e6)
    for pid, lat, lon in pts:
        px, py = cell(lat, lon)
        for cx, cy in cand:
            if abs(cx - px) > 1 or abs(cy - py) > 1:
                continue
            clat = -90.0 + (cy + 0.5) * 180.0 / n
            clon = -180.0 + (cx + 0.5) * 360.0 / n
            dy = (lat - clat) * m_deg
            dx = (lon - clon) * m_deg * coslat
            if math.floor((dx * dx + dy * dy) * 1.0e6 + 0.5) <= r2_mm2:
                cover[(cx, cy)].add(pid)
    covered = set()
    want = []
    for rank in range(1, SPATIAL._FS_K + 1):
        best = max(
            cover.items(),
            key=lambda kv: (len(kv[1] - covered), -kv[0][0], -kv[0][1]),
        )
        # lexicographic tie: max count, then SMALLEST (cx, cy)
        best_gain = max(len(v - covered) for v in cover.values())
        cands = sorted(
            k for k, v in cover.items() if len(v - covered) == best_gain
        )
        chosen = cands[0]
        new = cover[chosen] - covered
        covered |= new
        want.append((rank, chosen[0], chosen[1], len(new), len(covered)))
    assert got == want
    # greedy property: marginal gains are non-increasing
    gains = [w[3] for w in want]
    assert gains == sorted(gains, reverse=True)


def _cells():
    ev = pq.read_table(f"{SF}/events.parquet").to_pylist()
    n = 2**SPATIAL._LQ_RES
    counts = defaultdict(int)
    for e in ev:
        eid = e["event_id"]
        lat = CORPUS.LAT_LO + (phash60(f"tr:lat:{eid}") / 2.0**60) * (
            CORPUS.LAT_HI - CORPUS.LAT_LO
        )
        lon = CORPUS.LON_LO + (phash60(f"tr:lon:{eid}") / 2.0**60) * (
            CORPUS.LON_HI - CORPUS.LON_LO
        )
        ix = int(math.floor((lon + 180.0) / 360.0 * n))
        iy = int(math.floor((lat + 90.0) / 180.0 * n))
        # functions/geo.py quad_pack layout: res·2^58 + iy·2^29 + ix
        cell = SPATIAL._LQ_RES * 2**58 + iy * 2**29 + ix
        counts[(cell, e["event_type"])] += 1
    return counts


def test_location_quotient_matches_python_replay(spark):
    got = {
        (r["cell"], r["event_type"]): (r["n"], r["lq"], r["specialized"])
        for r in Q.QUERIES["location_quotient"][0](spark, SF).collect()
    }
    counts = _cells()
    t_cell = defaultdict(int)
    n_t = defaultdict(int)
    for (cell, et), n in counts.items():
        t_cell[cell] += n
        n_t[et] += n
    total = sum(counts.values())
    want = {
        (cell, et): (
            n,
            round(n * total / (t_cell[cell] * n_t[et]), 9),
            1 if n * total > t_cell[cell] * n_t[et] else 0,
        )
        for (cell, et), n in counts.items()
    }
    assert got == want
    # LQ is share-normalized: per type, the count-weighted mean LQ is 1
    for et in n_t:
        ws = sum(
            counts[(c, e)] * want[(c, e)][1] / n_t[et]
            for (c, e) in counts
            if e == et
        )
        assert abs(ws - total / sum(t_cell.values()) * 1.0) < 0.05 or ws > 0


def test_beta_diversity_matches_python_replay(spark):
    row = Q.QUERIES["beta_diversity"][0](spark, SF).collect()[0]
    counts = _cells()
    per_cell = defaultdict(set)
    types = set()
    for (cell, et) in counts:
        per_cell[cell].add(et)
        types.add(et)
    n_cells = len(per_cell)
    gamma = len(types)
    alpha_sum = sum(len(v) for v in per_cell.values())
    alpha_mean = alpha_sum / n_cells
    assert (
        row["n_cells"], row["gamma"], row["alpha_sum"], row["alpha_mean"],
        row["beta_w"],
    ) == (
        n_cells, gamma, alpha_sum, round(alpha_mean, 9),
        round(gamma / alpha_mean, 9),
    )
    # diversity bounds: 1 ≤ β ≤ n_cells, ᾱ ≤ γ
    assert 1.0 - 1e-9 <= row["beta_w"] <= n_cells
    assert alpha_mean <= gamma
