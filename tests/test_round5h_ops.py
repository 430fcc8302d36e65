"""Round-5 batch H vs exact Python replays (LANDING.md step 5):
t-closeness audit, areal interpolation.
"""

import math
from collections import defaultdict

import pyarrow.parquet as pq

from osm_to_netex_spark.plans import queries as Q
from osm_to_netex_spark.plans.queries import stats as STATS

SF = "/root/testdata/sf0.001"


def test_t_closeness_matches_python_replay(spark):
    got = {
        (r["qi_nat"], r["qi_band"]): (r["n_c"], r["tvd_num"], r["is_t_close"])
        for r in Q.QUERIES["t_closeness"][0](spark, SF).collect()
    }
    custs = pq.read_table(f"{SF}/customer.parquet").to_pylist()
    glob = defaultdict(int)
    for c in custs:
        glob[c["c_mktsegment"]] += 1
    big_n = len(custs)
    cls = defaultdict(lambda: defaultdict(int))
    for c in custs:
        qi = (c["c_nationkey"], math.floor(c["c_acctbal"] / 1000.0))
        cls[qi][c["c_mktsegment"]] += 1
    want = {}
    for qi, seg_counts in cls.items():
        n_c = sum(seg_counts.values())
        # grid over ALL global segments: absent ones contribute |0 - q|
        num = sum(
            abs(seg_counts.get(s, 0) * big_n - g * n_c)
            for s, g in glob.items()
        )
        t_close = 1 if num * STATS._TC_T_DEN <= STATS._TC_T_NUM * 2 * n_c * big_n else 0
        want[qi] = (n_c, num, t_close)
    assert got == want
    # the audit must see both compliant and violating classes at sf0.001
    flags = {v[2] for v in want.values()}
    assert flags == {0, 1}


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
