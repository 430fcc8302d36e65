"""GPS spike-filter semantics on explicit fixes: the
both-legs rule, endpoint single-leg rule, fast-genuine-leg neutrality,
singleton immunity, and partition invariance."""

from datetime import datetime, timedelta

from osm_to_netex_spark.functions.portable import SPARK
from osm_to_netex_spark.operators import trajectory

T0 = datetime(2024, 1, 1, 12, 0, 0)


def _fix(uid, eid, minutes, lat, lon):
    return (uid, eid, T0 + timedelta(minutes=minutes), float(lat), float(lon))


def _run(spark, rows, vmax=40.0):
    df = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, lat double, lon double"
    )
    out = spark.sql(trajectory.speed_filter_sql(SPARK, "{fixes}", vmax_ms=vmax), fixes=df).collect()
    return {(r.user_id, r.event_id): r.is_outlier for r in out}


def test_interior_teleport_flagged_neighbors_survive(spark):
    # fixes 10 min apart; the middle one jumps ~1 degree (~111 km -> ~185 m/s)
    rows = [
        _fix(1, 1, 0, 60.0, 10.0),
        _fix(1, 2, 10, 60.0001, 10.0),
        _fix(1, 3, 20, 61.0, 10.0),    # spike
        _fix(1, 4, 30, 60.0002, 10.0),
        _fix(1, 5, 40, 60.0003, 10.0),
    ]
    out = _run(spark, rows)
    assert out == {(1, 1): False, (1, 2): False, (1, 3): True, (1, 4): False, (1, 5): False}


def test_genuine_fast_leg_flags_neither_side(spark):
    # one fast leg between two otherwise-consistent clusters: each endpoint
    # of the leg keeps a slow leg, so nothing is flagged
    rows = [
        _fix(1, 1, 0, 60.0, 10.0),
        _fix(1, 2, 10, 60.0001, 10.0),
        _fix(1, 3, 11, 61.0, 10.0),   # fast jump, but stays there
        _fix(1, 4, 21, 61.0001, 10.0),
    ]
    out = _run(spark, rows)
    assert not any(out.values())


def test_endpoint_single_leg_rule_and_singleton_immunity(spark):
    rows = [
        # user 1: FIRST fix is the teleport (single fast leg -> flagged)
        _fix(1, 1, 0, 61.0, 10.0),
        _fix(1, 2, 10, 60.0, 10.0),
        _fix(1, 3, 20, 60.0001, 10.0),
        # user 2: a single isolated fix -> never flagged
        _fix(2, 9, 0, 59.9, 10.2),
    ]
    out = _run(spark, rows)
    assert out[(1, 1)] is True and out[(1, 2)] is False and out[(1, 3)] is False
    assert out[(2, 9)] is False


def test_partition_invariance(spark):
    rows = []
    for i in range(40):
        lat = 61.0 if i % 9 == 4 else 60.0 + i * 1e-5
        rows.append(_fix(1 + i % 3, i, i * 7, lat, 10.0))
    df = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, lat double, lon double"
    )
    sql = trajectory.speed_filter_sql(SPARK, "{fixes}")
    a = sorted(map(tuple, spark.sql(sql, fixes=df).collect()))
    b = sorted(map(tuple, spark.sql(sql, fixes=df.repartition(7)).collect()))
    assert a == b and any(r[3] for r in a)
