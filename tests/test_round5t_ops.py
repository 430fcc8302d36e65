"""Round-5 batch T vs exact Python replay (LANDING.md step 5):
greedy facility location.
"""

import math
from collections import defaultdict

from osm_to_netex_spark.plans import queries as Q
from osm_to_netex_spark.plans.queries import corpus as CORPUS, spatial as SPATIAL

SF = "/root/testdata/sf0.001"


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
