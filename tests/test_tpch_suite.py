"""TPC-H completion shapes (plans/queries/tpch.py) vs exact Python replays
(LANDING.md step 5): oracle agreement proves cross-engine consistency;
these replays prove the math on the sf0.001 corpus with plain Python —
no SQL engine on the replay side.

Also pins the suite-completeness claim: all 22 TPC-H query shapes are
registered.
"""

import math
from collections import defaultdict

import pyarrow.parquet as pq

from osm_to_netex_spark.plans import queries as Q

SF = "/root/testdata/sf0.001"


def _rows(table: str) -> list[dict]:
    return pq.read_table(f"{SF}/{table}.parquet").to_pylist()


def _q4(x: float) -> int:
    return math.floor(x * 1.0e4 + 0.5)


def _q2c(x: float) -> int:
    return math.floor(x * 1.0e2 + 0.5)


def test_all_22_tpch_shapes_registered():
    missing = [
        f"tpch_q{i}" for i in range(1, 23) if f"tpch_q{i}" not in Q.QUERIES
    ]
    assert not missing, f"TPC-H suite incomplete: {missing}"


def test_q11_matches_python_replay(spark):
    got = {
        r["p_partkey"]: r["value_q4"]
        for r in Q.QUERIES["tpch_q11"][0](spark, SF).collect()
    }
    val = defaultdict(int)
    for li in _rows("lineitem"):
        val[li["l_partkey"]] += _q4(li["l_extendedprice"])
    total, n = sum(val.values()), len(val)
    want = {pk: v for pk, v in val.items() if v * n * 10 > total * 12}
    assert got == want


def test_q13_matches_python_replay(spark):
    got = {
        r["c_count"]: r["custdist"]
        for r in Q.QUERIES["tpch_q13"][0](spark, SF).collect()
    }
    per_cust = {c["c_custkey"]: 0 for c in _rows("customer")}
    for o in _rows("orders"):
        if o["o_orderpriority"] != "1-URGENT" and o["o_custkey"] in per_cust:
            per_cust[o["o_custkey"]] += 1
    want = defaultdict(int)
    for cnt in per_cust.values():
        want[cnt] += 1
    assert got == dict(want)


def test_q21_matches_python_replay(spark):
    got = {
        r["s_name"]: r["numwait"]
        for r in Q.QUERIES["tpch_q21"][0](spark, SF).collect()
    }
    orders = {o["o_orderkey"]: o for o in _rows("orders")}
    by_order = defaultdict(list)
    for li in _rows("lineitem"):
        by_order[li["l_orderkey"]].append(li)
    suppliers = {s["s_suppkey"]: s["s_name"] for s in _rows("supplier")}
    want = defaultdict(int)
    for okey, lines in by_order.items():
        o = orders[okey]
        if o["o_orderstatus"] != "F":
            continue
        for l1 in lines:
            lag = (l1["l_shipdate"] - o["o_orderdate"]).total_seconds()
            if not lag > 5184000.0:
                continue
            others = [x for x in lines if x["l_suppkey"] != l1["l_suppkey"]]
            if not others:
                continue
            if any(x["l_shipdate"] > l1["l_shipdate"] for x in others):
                continue
            want[suppliers[l1["l_suppkey"]]] += 1
    assert got == dict(want)


def test_q22_matches_python_replay(spark):
    import datetime

    got = {
        r["cntrycode"]: (r["numcust"], r["totacctbal_q2"])
        for r in Q.QUERIES["tpch_q22"][0](spark, SF).collect()
    }
    custs = _rows("customer")
    codes = {1, 3, 5, 7, 9}
    pos = [
        _q2c(c["c_acctbal"])
        for c in custs
        if c["c_acctbal"] > 0.0 and c["c_nationkey"] % 10 in codes
    ]
    sum_q2, n = sum(pos), len(pos)
    cutoff = datetime.datetime(2000, 1, 1)
    recent = {
        o["o_custkey"] for o in _rows("orders") if o["o_orderdate"] >= cutoff
    }
    want = defaultdict(lambda: [0, 0])
    for c in custs:
        code = c["c_nationkey"] % 10
        if (
            code in codes
            and _q2c(c["c_acctbal"]) * n > sum_q2
            and c["c_custkey"] not in recent
        ):
            want[code][0] += 1
            want[code][1] += _q2c(c["c_acctbal"])
    assert got == {k: tuple(v) for k, v in want.items()}


def test_q2_min_cost_is_regional_minimum(spark):
    rows = Q.QUERIES["tpch_q2"][0](spark, SF).collect()
    assert rows, "q2 shape returned no rows at sf0.001"
    # every emitted supplier achieves the exact per-part regional minimum
    cost = defaultdict(lambda: defaultdict(list))
    for li in _rows("lineitem"):
        c = math.floor(li["l_extendedprice"] / li["l_quantity"] * 1.0e4 + 0.5)
        cost[li["l_partkey"]][li["l_suppkey"]].append(c)
    nations = {n["n_nationkey"]: n["n_regionkey"] for n in _rows("nation")}
    regions = {r["r_regionkey"]: r["r_name"] for r in _rows("region")}
    supp_region = {
        s["s_suppkey"]: regions[nations[s["s_nationkey"]]]
        for s in _rows("supplier")
    }
    for r in rows:
        per_supp = {
            sk: min(v)
            for sk, v in cost[r["p_partkey"]].items()
            if supp_region[sk] == "EUROPE"
        }
        assert r["unit_cost_q4"] == min(per_supp.values())
        assert per_supp[r["s_suppkey"]] == r["unit_cost_q4"]
