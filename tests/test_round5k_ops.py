"""Round-5 batch K vs exact Python replays (LANDING.md step 5):
Strahler stream order, watershed basin labeling.
"""

from collections import defaultdict

from osm_to_netex_spark.plans import queries as Q
from osm_to_netex_spark.plans.queries import terrain as TERRAIN

from tests.test_round5c_ops import _python_flow_dir

SF = "/root/testdata/sf0.001"


def _flow_step():
    fdir = _python_flow_dir()
    offs = TERRAIN._d8_offsets()
    return fdir, {
        (ix, iy): (ix + offs[d][1], iy + offs[d][2])
        for (ix, iy), d in fdir.items()
        if d >= 0
    }


def test_strahler_matches_python_replay(spark):
    got = {
        (r["ix"], r["iy"]): r["strahler_order"]
        for r in Q.QUERIES["strahler"][0](spark, SF).collect()
    }
    fdir, step = _flow_step()
    children = defaultdict(list)
    for src, dst in step.items():
        children[dst].append(src)
    # every forest node: fdir cells + boundary sinks that receive flow
    nodes = set(fdir) | set(children)
    order = {}
    changed = True
    while changed:
        changed = False
        for v in nodes:
            if v in order:
                continue
            ch = children.get(v, [])
            if any(c not in order for c in ch):
                continue
            if not ch:
                order[v] = 1
            else:
                mx = max(order[c] for c in ch)
                ties = sum(1 for c in ch if order[c] == mx)
                order[v] = mx + (1 if ties >= 2 else 0)
            changed = True
    assert got == order
    # the settlement rounds covered the whole forest
    assert set(got) == nodes
    assert max(got.values()) >= 2  # confluences exist on this raster


def test_watershed_matches_python_walk(spark):
    got = {
        (r["ix"], r["iy"]): (r["basin_ix"], r["basin_iy"])
        for r in Q.QUERIES["watershed"][0](spark, SF).collect()
    }
    fdir, step = _flow_step()
    want = {}
    for c in fdir:
        cur = c
        while cur in step:
            cur = step[cur]
        want[c] = cur
    assert got == want
    # basin terminals are true sinks: no outgoing pointer
    for terminal in set(want.values()):
        assert terminal not in step
    # multiple basins exist on this raster
    assert len(set(want.values())) > 1
