"""Trajectory-domain registry queries (plans/queries/trajectory.py) vs
exact Python replays: map-match quality; and the temp views the
builders leave behind.

Oracle agreement (tools/verify_oracle.py) proves cross-engine consistency;
these replays prove the math on the sf0.001 corpus (LANDING.md step 5)."""

from collections import defaultdict

import pytest

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
