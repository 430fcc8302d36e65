"""Round-5 batch I vs exact Python replay (LANDING.md step 5):
spatial structure functions (semivariogram + Moran correlogram).
"""

from osm_to_netex_spark.plans import queries as Q
from osm_to_netex_spark.plans.queries import terrain as TERRAIN

from tests.test_round5c_ops import _raster

SF = "/root/testdata/sf0.001"


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
