"""Trajectory-domain registry queries (plans/queries/trajectory.py) vs
exact Python replays: map-match quality.

Oracle agreement (tools/verify_oracle.py) proves cross-engine consistency;
these replays prove the math on the sf0.001 corpus (LANDING.md step 5)."""

from collections import defaultdict

import pytest

from osm_to_netex_spark.plans.queries import trajectory as TRAJECTORY
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
