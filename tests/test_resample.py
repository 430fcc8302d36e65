"""Fixed-interval resampling semantics on explicit fixes: exact Python
replay, half-open tick ownership, on-fix tick reproduction,
duplicate-time safety, and partition invariance."""

from datetime import datetime, timedelta

from osm_to_netex_spark.functions.portable import SPARK
from osm_to_netex_spark.operators import trajectory

T0 = datetime(2024, 1, 1)


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, lat double, lon double"
    )


def _resample(spark, fixes, step_s):
    sql = trajectory.resample_track_sql(SPARK, "{fixes}", step_s=step_s)
    return spark.sql(sql, fixes=fixes).collect()


def _py_resample(fixes, step_s):
    """fixes: [(ts_us, lat, lon)] sorted; replays the SQL exactly."""
    step_us = step_s * 1_000_000
    out = []
    for (t0, la0, lo0), (t1, la1, lo1) in zip(fixes, fixes[1:]):
        if t1 <= t0:
            continue
        for k in range(t0 // step_us + 1, t1 // step_us + 1):
            frac = float(k * step_us - t0) / float(t1 - t0)
            out.append(
                (
                    k,
                    round(k * float(step_s), 6),
                    round(la0 + (la1 - la0) * frac, 9),
                    round(lo0 + (lo1 - lo0) * frac, 9),
                )
            )
    return sorted(out)


def _us(ts):
    return int(ts.timestamp() * 1_000_000)


def test_matches_python_replay_exactly(spark):
    rows = []
    fixes = []
    for i in range(9):
        ts = T0 + timedelta(hours=5 * i + (i % 3))  # irregular spacing
        la, lo = 60.0 + 0.013 * i, 10.0 + 0.007 * ((i * 5) % 7)
        rows.append((1, i, ts, la, lo))
        fixes.append((_us(ts), la, lo))
    got = sorted(
        (r.tick, r.gts, r.rlat, r.rlon)
        for r in _resample(spark, _df(spark, rows), 3600)
    )
    assert got == _py_resample(fixes, 3600) and len(got) >= 40


def test_tick_on_fix_reproduces_fix(spark):
    # second fix exactly on a 1h grid tick: frac=1 must reproduce it exactly
    rows = [
        (1, 0, T0 + timedelta(minutes=30), 60.0, 10.0),
        (1, 1, T0 + timedelta(hours=2), 60.5, 10.5),
        (1, 2, T0 + timedelta(hours=3, minutes=30), 61.0, 11.0),
    ]
    out = {
        r.tick: (r.rlat, r.rlon)
        for r in _resample(spark, _df(spark, rows), 3600)
    }
    k_on_fix = _us(T0 + timedelta(hours=2)) // 3_600_000_000
    assert out[k_on_fix] == (60.5, 10.5)
    # each tick appears exactly once (half-open ownership): ticks 1,2,3 of the day
    assert sorted(out) == [k_on_fix - 1, k_on_fix, k_on_fix + 1]


def test_duplicate_time_fixes_are_safe(spark):
    rows = [
        (1, 0, T0, 60.0, 10.0),
        (1, 1, T0 + timedelta(hours=1), 60.2, 10.2),
        (1, 2, T0 + timedelta(hours=1), 99.0, 99.0),  # duplicate ts, later event_id
        (1, 3, T0 + timedelta(hours=2), 60.4, 10.4),
    ]
    out = _resample(spark, _df(spark, rows), 3600)
    # no division-by-zero rows, and the h+2 tick interpolates FROM the
    # duplicate fix (99,99) — order (tus, event_id) makes it the segment start
    ticks = sorted(r.tick for r in out)
    assert len(ticks) == len(set(ticks)) == 2
    last = max(out, key=lambda r: r.tick)
    assert last.rlat == 60.4 and last.rlon == 10.4  # frac=1 lands on fix 3


def test_partition_invariance(spark):
    rows = [
        (
            1 + i % 4,
            i,
            T0 + timedelta(minutes=37 * i),
            60.0 + (i * 7 % 13) * 1e-3,
            10.0 + (i * 5 % 11) * 1e-3,
        )
        for i in range(60)
    ]
    df = _df(spark, rows)
    a = sorted(map(tuple, _resample(spark, df, 1800)))
    b = sorted(map(tuple, _resample(spark, df.repartition(7), 1800)))
    assert a == b and len(a) > 20
