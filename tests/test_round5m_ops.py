"""Round-5 batch M vs exact Python replays (LANDING.md step 5):
edge elevation profiles, corpus novelty curve.
"""

import re
from collections import defaultdict

import pyarrow.parquet as pq

from osm_to_netex_spark.plans import queries as Q
from osm_to_netex_spark.plans.queries import text as TEXT

from tests.test_round5c_ops import _raster
from tests.test_round5e_ops import _python_ways

SF = "/root/testdata/sf0.001"


def test_edge_profiles_match_python_replay(spark):
    got = {
        (r["way_id"], r["edge_idx"]): (
            r["n_nodes"], r["z_min_q3"], r["z_max_q3"], r["climb_q3"]
        )
        for r in Q.QUERIES["edge_profiles"][0](spark, SF).collect()
    }
    import math

    z = {
        iy * 100000 + ix: math.floor(v * 1.0e3 + 0.5)
        for (ix, iy), v in _raster().items()
    }
    ways = _python_ways()
    use = defaultdict(set)
    for wid, nodes in ways.items():
        for nd in nodes:
            use[nd].add(wid)
    junctions = {nd for nd, ws in use.items() if len(ws) >= 2}
    want = {}
    for wid, nodes in ways.items():
        cuts = [
            i for i, nd in enumerate(nodes)
            if nd in junctions or i == 0 or i == len(nodes) - 1
        ]
        for k in range(len(cuts) - 1):
            a, b = cuts[k], cuts[k + 1]
            zs = [z[nd] for nd in nodes[a:b + 1]]
            climb = sum(
                max(0, zs[i] - zs[i - 1]) for i in range(1, len(zs))
            )
            want[(wid, k + 1)] = (len(zs), min(zs), max(zs), climb)
    assert got == want
    assert any(v[3] > 0 for v in want.values())  # real climbs exist


def test_novelty_curve_matches_python_replay(spark):
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_novel"], r["novelty_q6"])
        for r in Q.QUERIES["novelty_curve"][0](spark, SF).collect()
    }
    docs = pq.read_table(f"{SF}/documents.parquet").to_pylist()
    per_doc = {}
    for doc in docs:
        toks = [t for t in re.split(r"[^a-z0-9]+", doc["text"].lower()) if t]
        k = TEXT._NV_SHINGLE
        per_doc[doc["doc_id"]] = {
            " ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)
        }
    owner = {}
    for did in sorted(per_doc):
        for s in per_doc[did]:
            owner.setdefault(s, did)
    want = {}
    for did, shingles in per_doc.items():
        if not shingles:
            continue
        novel = sum(1 for s in shingles if owner[s] == did)
        want[did] = (
            len(shingles), novel, novel * 1000000 // len(shingles)
        )
    assert got == want
    # the curve is informative: later docs are on average less novel than
    # doc 0 (which owns everything it contains)
    first = min(want)
    assert want[first][1] == want[first][0]
