"""Trajectory-domain registry queries (plans/queries/trajectory.py) vs
exact Python replays: map-match quality; trip statistics and turn
points on explicit fixes; and the temp views the builders leave behind.

Oracle agreement (tools/verify_oracle.py) proves cross-engine consistency;
these replays prove the math on the sf0.001 corpus (LANDING.md step 5)."""

import math
from collections import defaultdict
from datetime import datetime, timedelta

import pytest

from osm_to_netex_spark.functions.portable import SPARK
from osm_to_netex_spark.operators import trajectory
from osm_to_netex_spark.plans.queries import corpus as CORPUS, trajectory as TRAJECTORY
from tests.support import SF

pytestmark = pytest.mark.usefixtures("fresh_views")


def test_match_quality_invariants(spark):
    """Diagnostics consistency vs the matched steps themselves: switch
    count replayed in Python from the map_match output, totals agree."""
    from collections import defaultdict


    mm = defaultdict(list)
    for r in TRAJECTORY.q_map_match(spark, SF).collect():
        mm[r["traj_id"]].append((r["step"], r["zone_id"], r["seg_idx"], r["emis_mm"]))
    want = {}
    for t, steps in mm.items():
        steps.sort()
        sw = sum(
            1
            for a, b in zip(steps, steps[1:])
            if (a[1], a[2]) != (b[1], b[2])
        )
        tot = sum(s[3] for s in steps)
        want[t] = (len(steps), tot, sw, round(tot / len(steps), 6))
    got = {
        r["traj_id"]: (r["n_steps"], r["total_emis_mm"], r["n_switches"],
                       r["mean_emis_mm"])
        for r in TRAJECTORY.q_match_quality(spark, SF).collect()
    }
    assert got == want


def test_builders_leave_no_temp_views(spark):
    """Builders read the registered sf views (geo_traj among them) and
    register none of their own: building trips, od_matrix and map_match
    leaves the session's tables as it found them."""
    CORPUS.register_geometry_views(spark, SF)
    before = sorted(t.name for t in spark.catalog.listTables())
    for name in ("trips", "od_matrix", "map_match"):
        TRAJECTORY.QUERIES[name][0](spark, SF)
    assert sorted(t.name for t in spark.catalog.listTables()) == before


T0 = datetime(2024, 1, 1, 12, 0, 0)


def _fixes(spark, rows):
    """(user_id, event_id, minutes after T0, lat, lon) rows as a fixes frame."""
    return spark.createDataFrame(
        [(u, e, T0 + timedelta(minutes=m), float(la), float(lo)) for u, e, m, la, lo in rows],
        "user_id bigint, event_id bigint, ts timestamp, lat double, lon double",
    )


def _hav_m(a, b):
    """haversine_m's formula (R = 6371008.8 m) in Python."""
    hlat = math.sin(math.radians(b[0] - a[0]) / 2.0)
    hlon = math.sin(math.radians(b[1] - a[1]) / 2.0)
    h = hlat * hlat + math.cos(math.radians(a[0])) * math.cos(math.radians(b[0])) * hlon * hlon
    return 2.0 * 6371008.8 * math.asin(math.sqrt(h))


def test_trip_stats_reads_the_given_fixes(spark):
    """On explicit fixes, path_m is the sum of the haversine legs of each
    trip in time order and displacement_m the distance between its
    endpoints; a gap over 30 min starts a new trip."""
    rows = [
        (1, 1, 0, 60.0, 10.0),
        (1, 2, 10, 60.01, 10.0),
        (1, 3, 20, 60.01, 10.02),
        (1, 4, 25, 60.0, 10.03),
        (1, 5, 90, 59.5, 9.8),  # 65 min later: trip 2
        (1, 6, 100, 59.52, 9.81),
        (2, 7, 0, 59.9, 10.4),
    ]
    got = {
        (r["user_id"], r["trip"]): r
        for r in spark.sql(
            trajectory.trip_stats_sql(SPARK, "{fixes}"), fixes=_fixes(spark, rows)
        ).collect()
    }
    trips = {(1, 1): rows[0:4], (1, 2): rows[4:6], (2, 1): rows[6:7]}
    assert sorted(got) == sorted(trips)
    for key, pts in trips.items():
        r, xy = got[key], [(p[3], p[4]) for p in pts]
        path = sum(_hav_m(a, b) for a, b in zip(xy, xy[1:]))
        assert r["n_points"] == len(pts)
        assert r["duration_s"] == (pts[-1][2] - pts[0][2]) * 60.0
        assert r["path_m"] == pytest.approx(path, abs=1e-5)
        assert r["displacement_m"] == pytest.approx(_hav_m(xy[0], xy[-1]), abs=1e-5)
    assert got[(1, 1)]["path_m"] > 3000.0  # three km-scale legs, not hashed points


def test_turn_points_reads_the_given_fixes(spark):
    """On explicit fixes, a corner is a fix whose incoming and outgoing
    legs, in integer 1e-4-degree equirectangular units, turn by more than
    45°: dot < 0 or 2·dot² < |a|²·|b|²."""
    rows = [
        (1, 1, 0, 60.0, 10.0),
        (1, 2, 1, 60.0, 10.01),  # east, then north: 90° corner
        (1, 3, 2, 60.01, 10.01),  # north, then north: straight
        (1, 4, 3, 60.02, 10.01),  # north, then ~30° east of north: no corner
        (1, 5, 4, 60.03, 10.021),  # ~30° east of north, then south-west: corner
        (1, 6, 5, 60.02, 10.0),
    ]
    got = {
        r["event_id"]: (r["dot_q"], r["a2"], r["b2"])
        for r in spark.sql(
            trajectory.turn_points_sql(SPARK, "{fixes}"), fixes=_fixes(spark, rows)
        ).collect()
    }
    q = [
        (math.floor(lon * 0.5225 * 1.0e4 + 0.5), math.floor(lat * 1.0e4 + 0.5))
        for _, _, _, lat, lon in rows
    ]
    want = {}
    for i in range(1, len(q) - 1):
        ax, ay = q[i][0] - q[i - 1][0], q[i][1] - q[i - 1][1]
        bx, by = q[i + 1][0] - q[i][0], q[i + 1][1] - q[i][1]
        dot, a2, b2 = ax * bx + ay * by, ax * ax + ay * ay, bx * bx + by * by
        if a2 > 0 and b2 > 0 and (dot < 0 or 2 * dot * dot < a2 * b2):
            want[rows[i][1]] = (dot, a2, b2)
    assert got == want
    assert sorted(got) == [2, 5]
