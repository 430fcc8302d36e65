"""Round-5 batch R vs exact Python replays (LANDING.md step 5):
quantile normalization, HITS hub/authority.
"""

import hashlib
import math
from collections import defaultdict

import pyarrow.parquet as pq

from osm_to_netex_spark.operators.graph import HUB_MOD, K_LINKS
from osm_to_netex_spark.plans import queries as Q
from osm_to_netex_spark.plans.queries import graph as GRAPH

SF = "/root/testdata/sf0.001"


def _phash60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_quantile_norm_matches_python_replay(spark):
    got = {
        r["event_id"]: (r["v_q6"], r["norm_q6"])
        for r in Q.QUERIES["quantile_norm"][0](spark, SF).collect()
    }
    ev = pq.read_table(f"{SF}/events.parquet").to_pylist()
    rows = [
        (e["event_id"], e["event_type"], math.floor(e["value"] * 1e6 + 0.5))
        for e in ev
    ]
    glob = sorted(rows, key=lambda x: (x[2], x[0]))
    big_n = len(glob)
    by_type = defaultdict(list)
    for r in rows:
        by_type[r[1]].append(r)
    want = {}
    for et, rs in by_type.items():
        rs.sort(key=lambda x: (x[2], x[0]))
        n_b = len(rs)
        for i, (eid, _, vq) in enumerate(rs, 1):
            gi = (i * big_n + n_b - 1) // n_b  # 1-based ceil index
            want[eid] = (vq, glob[gi - 1][2])
    assert got == want
    # normalization properties: targets come from the global value
    # support, and every batch's top rank maps to the global maximum
    # (r = n_b ⇒ index N)
    gvals = {v for _, _, v in rows}
    per_type_targets = defaultdict(set)
    for e in ev:
        per_type_targets[e["event_type"]].add(got[e["event_id"]][1])
    gmax = max(gvals)
    for targets in per_type_targets.values():
        assert targets <= gvals
        assert max(targets) == gmax


def test_hits_matches_python_replay(spark):
    got = {
        r["doc_id"]: (r["hub_q6"], r["auth_q6"])
        for r in Q.QUERIES["hits_scores"][0](spark, SF).collect()
    }
    docs = [
        r["doc_id"]
        for r in pq.read_table(f"{SF}/documents.parquet", columns=["doc_id"])
        .to_pylist()
    ]
    n = len(docs)
    edges = set()
    for doc_id in docs:
        for j in range(K_LINKS):
            mod = min(HUB_MOD, n) if j == K_LINKS - 1 else n
            dst = _phash60(f"lnk:{doc_id}:{j}") % mod
            if dst != doc_id:
                edges.add((doc_id, dst))
    S = GRAPH._HITS_SCALE
    h = {d: S for d in docs}
    a = {}
    for _ in range(GRAPH._HITS_ROUNDS):
        raw_a = defaultdict(int)
        for u, v in edges:
            raw_a[v] += h.get(u, 0)
        mx = max(raw_a.values())
        a = {v: r * S // mx for v, r in raw_a.items()}
        raw_h = defaultdict(int)
        for u, v in edges:
            raw_h[u] += a.get(v, 0)
        mx = max(raw_h.values())
        h = {u: r * S // mx for u, r in raw_h.items()}
    want = {
        d: (h.get(d, 0), a.get(d, 0))
        for d in docs
        if h.get(d, 0) > 0 or a.get(d, 0) > 0
    }
    assert got == want
    # the deliberate in-degree skew (HUB_MOD) must surface as high
    # authority on the hub set
    top_auth = max(want.values(), key=lambda x: x[1])[1]
    assert top_auth == GRAPH._HITS_SCALE
