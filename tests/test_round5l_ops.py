"""Round-5 batch L vs exact Python replays (LANDING.md step 5):
terrain indices (TRI/TPI), Brier decomposition.
"""

import math
from collections import defaultdict

import pyarrow.parquet as pq

from osm_to_netex_spark.plans import queries as Q
from osm_to_netex_spark.plans.queries import stats as STATS, terrain as TERRAIN

from tests.test_round5c_ops import _raster

SF = "/root/testdata/sf0.001"


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


def _tdiv(a: int, b: int) -> int:
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def test_brier_decomp_matches_python_replay(spark):
    row = Q.QUERIES["brier_decomp"][0](spark, SF).collect()[0]
    ev = pq.read_table(f"{SF}/events.parquet").to_pylist()
    agg = defaultdict(lambda: [0, 0])
    for e in ev:
        agg[e["user_id"]][0] += 1
        agg[e["user_id"]][1] += 1 if e["value"] > STATS._CONV_THRESH else 0
    p_q3 = {u: _tdiv(x * 1000, n) for u, (n, x) in agg.items()}
    bins = defaultdict(lambda: [0, 0, 0])  # n_k, sp, sy
    for e in ev:
        p = p_q3[e["user_id"]]
        b = min(_tdiv(p, 100), STATS._BR_BINS - 1)
        bins[b][0] += 1
        bins[b][1] += p
        bins[b][2] += 1 if e["value"] > STATS._CONV_THRESH else 0
    n = sum(v[0] for v in bins.values())
    y_all = sum(v[2] for v in bins.values())
    y_q6 = _tdiv(y_all * 1000000, n)
    rel_num = res_num = 0
    for n_k, sp, sy in bins.values():
        pb = _tdiv(sp * 1000, n_k)
        yb = _tdiv(sy * 1000000, n_k)
        rel_num += n_k * (pb - yb) ** 2
        res_num += n_k * (yb - y_q6) ** 2
    rel = rel_num / (1.0e12 * n)
    res = res_num / (1.0e12 * n)
    unc = y_all * (n - y_all) / (n * n)
    assert (
        row["n"], row["reliability"], row["resolution"],
        row["uncertainty"], row["brier_recomposed"],
    ) == (n, round(rel, 9), round(res, 9), round(unc, 9),
          round(rel - res + unc, 9))
    # Murphy identities: all components non-negative, uncertainty is the
    # base-rate variance bound on the recomposed score when rel = res
    assert rel >= 0 and res >= 0 and 0 <= unc <= 0.25
