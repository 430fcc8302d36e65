"""Space-time co-location join semantics on explicit fixes: exact
agreement with a Python brute force, both-axes pruning correctness
(near-in-space-far-in-time and vice versa), pair uniqueness, and partition
invariance."""

import math
from datetime import datetime, timedelta
from itertools import combinations

from osm_to_netex_spark.functions.portable import SPARK
from osm_to_netex_spark.operators import trajectory

T0 = datetime(2024, 1, 1, 12, 0, 0)
R = 6371008.8


def _hav_m(a, b):
    la1, lo1, la2, lo2 = map(math.radians, (a[0], a[1], b[0], b[1]))
    h = (
        math.sin((la2 - la1) / 2) ** 2
        + math.cos(la1) * math.cos(la2) * math.sin((lo2 - lo1) / 2) ** 2
    )
    return 2 * R * math.asin(math.sqrt(h))


def _fix(uid, eid, minutes, lat, lon):
    return (uid, eid, T0 + timedelta(minutes=minutes), float(lat), float(lon))


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, lat double, lon double"
    )


def _brute(rows, radius_m, tau_s):
    pairs = {}
    for a, b in combinations(rows, 2):
        if a[0] == b[0]:
            continue
        (a, b) = (a, b) if a[0] < b[0] else (b, a)
        dt = abs((a[2] - b[2]).total_seconds())
        if dt <= tau_s and _hav_m((a[3], a[4]), (b[3], b[4])) <= radius_m:
            pairs[(a[0], b[0])] = pairs.get((a[0], b[0]), 0) + 1
    return pairs


def _run(spark, rows, radius_m=100.0, tau_s=1800.0):
    sql = trajectory.encounters_sql(SPARK, "{fixes}", radius_m=radius_m, tau_s=tau_s)
    out = spark.sql(sql, fixes=_df(spark, rows)).collect()
    return {(r.user_a, r.user_b): r.n_encounters for r in out}


def test_matches_python_brute_force(spark):
    # three users weaving around two venues at staggered times; distances
    # and time deltas deliberately straddle both thresholds
    rows = []
    for i in range(12):
        rows.append(_fix(1, i, i * 9, 60.0 + (i % 3) * 4e-4, 10.0))
        rows.append(_fix(2, 100 + i, i * 11 + 4, 60.0 + (i % 4) * 5e-4, 10.0))
        rows.append(_fix(3, 200 + i, i * 13 + 2, 60.05, 10.05 + (i % 2) * 4e-4))
    brute = _brute(rows, 100.0, 1800.0)
    assert brute  # fixture produces real encounters
    assert _run(spark, rows) == brute


def test_time_gate_and_space_gate_each_exclude(spark):
    rows = [
        _fix(1, 1, 0, 60.0, 10.0),
        _fix(2, 2, 0, 60.0003, 10.0),   # ~33 m away, same instant -> hit
        _fix(3, 3, 40, 60.0, 10.0),     # same spot, 40 min later -> miss (tau 30m)
        _fix(4, 4, 1, 60.02, 10.0),     # ~2.2 km away, 1 min later -> miss
    ]
    out = _run(spark, rows)
    assert out == {(1, 2): 1}


def test_pairs_unique_and_counted_per_fix_pair(spark):
    # users 1 and 2 co-located twice (two fix pairs), each within both gates
    rows = [
        _fix(1, 1, 0, 60.0, 10.0),
        _fix(2, 2, 5, 60.0001, 10.0),
        _fix(1, 3, 60, 60.1, 10.1),
        _fix(2, 4, 66, 60.1001, 10.1),
    ]
    out = _run(spark, rows)
    assert out == {(1, 2): 2}


def test_cell_boundary_straddle_is_caught_by_ring(spark):
    # two fixes ~30 m apart straddling a quad cell edge at res 15:
    # lat edge multiples are k * (180 / 2^15) deg
    edge = 180.0 / (2**15)
    lat_edge = edge * math.ceil(60.0 / edge)
    rows = [
        _fix(1, 1, 0, lat_edge - 1e-4, 10.0),
        _fix(2, 2, 1, lat_edge + 1e-4, 10.0),
    ]
    assert _run(spark, rows) == {(1, 2): 1}


def test_partition_invariance(spark):
    rows = []
    for i in range(30):
        rows.append(_fix(1 + (i % 5), i, i * 7, 60.0 + (i % 4) * 3e-4, 10.0))
    df = _df(spark, rows)
    sql = trajectory.encounters_sql(SPARK, "{fixes}")
    base = sorted(map(tuple, spark.sql(sql, fixes=df).collect()))
    rep = sorted(map(tuple, spark.sql(sql, fixes=df.repartition(7)).collect()))
    assert base == rep and base
