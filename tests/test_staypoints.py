"""Stay-point detection semantics on explicit fixes:
run splitting by the distance rule, duration/count gates, centroid fold,
and partition invariance."""

from datetime import datetime, timedelta

from osm_to_netex_spark.functions.portable import SPARK
from osm_to_netex_spark.operators import trajectory

T0 = datetime(2024, 1, 1, 12, 0, 0)


def _fix(uid, eid, minutes, lat, lon):
    return (uid, eid, T0 + timedelta(minutes=minutes), float(lat), float(lon))


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, lat double, lon double"
    )


def test_stay_point_detected_and_gates_applied(spark):
    jitter = 1e-5  # ~1 m steps, well inside the 50 m radius rule
    rows = [
        # user 1: a 4-fix dwell spanning 30 min -> one stay point
        _fix(1, 1, 0, 60.0, 10.0),
        _fix(1, 2, 10, 60.0 + jitter, 10.0),
        _fix(1, 3, 20, 60.0, 10.0 + jitter),
        _fix(1, 4, 30, 60.0 + jitter, 10.0 + jitter),
        # then a km-scale jump and only 2 fixes there -> fails min_points
        _fix(1, 5, 40, 60.5, 10.5),
        _fix(1, 6, 70, 60.5 + jitter, 10.5),
        # user 2: 3 fixes at one spot but only 5 min span -> fails duration
        _fix(2, 1, 0, 59.9, 10.2),
        _fix(2, 2, 2, 59.9 + jitter, 10.2),
        _fix(2, 3, 5, 59.9, 10.2 + jitter),
    ]
    out = spark.sql(
        trajectory.stay_points_sql(
            SPARK, "{fixes}", radius_m=50.0, min_duration_s=900.0, min_points=3
        ),
        fixes=_df(spark, rows),
    ).collect()
    assert len(out) == 1
    sp = out[0]
    assert sp.user_id == 1 and sp.stop_seq == 1 and sp.n_points == 4
    assert sp.duration_s == 1800.0
    # integer-fold centroid: mean of the four fixes
    assert abs(sp.clat - (60.0 + jitter / 2)) < 1e-9
    assert abs(sp.clon - (10.0 + jitter / 2)) < 1e-9


def test_consecutive_distance_rule_splits_runs(spark):
    # each fix 40 m east of the previous: every leg passes the 50 m rule,
    # so one run even though first->last is far beyond the radius
    step = 40.0 / (111320.0 * 0.5)  # ~40 m of longitude at lat 60
    rows = [_fix(1, i, i * 10, 60.0, 10.0 + i * step) for i in range(6)]
    out = spark.sql(
        trajectory.stay_points_sql(
            SPARK, "{fixes}", radius_m=50.0, min_duration_s=600.0, min_points=3
        ),
        fixes=_df(spark, rows),
    ).collect()
    assert len(out) == 1 and out[0].n_points == 6
    # double the step: every leg breaks -> singleton runs -> nothing passes
    rows2 = [_fix(1, i, i * 10, 60.0, 10.0 + 2 * i * step) for i in range(6)]
    out2 = spark.sql(
        trajectory.stay_points_sql(
            SPARK, "{fixes}", radius_m=50.0, min_duration_s=600.0, min_points=3
        ),
        fixes=_df(spark, rows2),
    ).collect()
    assert out2 == []


def test_stop_seq_orders_stays_and_is_partition_invariant(spark):
    jitter = 1e-5
    rows = []
    for base_min, (lat, lon) in [(0, (60.0, 10.0)), (1000, (60.3, 10.4))]:
        rows += [
            _fix(1, base_min + i, base_min + 10 * i, lat + i * jitter, lon)
            for i in range(4)
        ]
    df = _df(spark, rows)
    sql = trajectory.stay_points_sql(
        SPARK, "{fixes}", radius_m=50.0, min_duration_s=900.0, min_points=3
    )
    out = sorted(
        spark.sql(sql, fixes=df).collect(),
        key=lambda r: r.stop_seq,
    )
    assert [r.stop_seq for r in out] == [1, 2]
    assert out[0].start_eps < out[1].start_eps
    again = sorted(
        spark.sql(sql, fixes=df.repartition(7)).collect(),
        key=lambda r: r.stop_seq,
    )
    assert [tuple(r) for r in again] == [tuple(r) for r in out]
