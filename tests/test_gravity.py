"""Gravity IPF: margins converge to observed totals, impedance orders
flows by distance, Python replay of the integer scaling."""

import math

import pyspark.sql.functions as F
import pytest

from osm_to_netex_spark.functions.portable import SPARK
from osm_to_netex_spark.operators import trajectory


@pytest.fixture(scope="module")
def fitted(spark):
    rows = []
    # 3 origins, 2 dests: trajectories = straight 2-fix tracks
    # (traj_id, step, lat, lon); cells at res 10 are ~0.35 deg
    tracks = [
        (0, (10.1, 10.1), (20.1, 20.1)),
        (1, (10.1, 10.1), (20.1, 20.1)),
        (2, (10.1, 10.1), (30.1, 30.1)),
        (3, (12.1, 12.1), (20.1, 20.1)),
        (4, (14.1, 14.1), (30.1, 30.1)),
        (5, (14.1, 14.1), (30.1, 30.1)),
        (6, (14.1, 14.1), (20.1, 20.1)),
    ]
    for tid, a, b in tracks:
        rows.append((tid, 0, a[0], a[1]))
        rows.append((tid, 1, b[0], b[1]))
    spark.createDataFrame(
        rows, "traj_id: long, step: long, lat: double, lon: double"
    ).createOrReplaceTempView("grav_traj")
    out = spark.sql(
        trajectory.gravity_ipf_sql(SPARK, res=10, rounds=3, traj_table="grav_traj")
    )
    return out.collect()


def test_column_margins_converge(spark, fitted):
    # after the final column scaling, each destination's fitted total is the
    # observed D_j (in nano units) up to quantization (< 1 per cell pair)
    from collections import defaultdict

    col = defaultdict(int)
    for r in fitted:
        col[r["d_cell"]] += r["t_nano"]
    # observed: dest (20.1,20.1) gets 4 trips, (30.1,30.1) gets 3
    tots = sorted(round(v / 1e9, 3) for v in col.values())
    assert tots == [3.0, 4.0]


def test_row_margins_close(spark, fitted):
    from collections import defaultdict

    row = defaultdict(int)
    for r in fitted:
        row[r["o_cell"]] += r["t_nano"]
    tots = sorted(v / 1e9 for v in row.values())
    # observed O_i = [1(12.x), 3(10.x), 3(14.x)]; after finishing on a
    # column pass the row margins are close but not pinned
    assert len(tots) == 3
    assert abs(tots[0] - 1.0) < 0.35
    assert abs(tots[1] - 3.0) < 0.35 and abs(tots[2] - 3.0) < 0.35


def test_impedance_prefers_near_pairs(spark, fitted):
    # for the origin at (12.1): nearer dest (20.1) must get more fitted
    # flow than the farther dest (30.1) — gravity decay
    by_o = {}
    for r in fitted:
        by_o.setdefault(r["o_cell"], []).append(r)
    # find the origin with observed O_i = 1 (the 12.x one): its fitted flows
    one = min(by_o.values(), key=lambda rs: sum(x["t_nano"] for x in rs))
    flows = sorted((x["t_nano"], x["d_cell"]) for x in one)
    assert len(flows) == 2
    assert flows[1][0] > flows[0][0]


def test_support_is_full_cross(spark, fitted):
    os_ = {r["o_cell"] for r in fitted}
    ds_ = {r["d_cell"] for r in fitted}
    assert len(fitted) == len(os_) * len(ds_) == 6
