"""Round-5 batch N vs exact Python replays (LANDING.md step 5):
mutual-kNN graph, spatial QA audit.
"""

import math

import pyarrow.parquet as pq

from osm_to_netex_spark.plans import queries as Q
from osm_to_netex_spark.plans.queries import retrieval as RETRIEVAL

SF = "/root/testdata/sf0.001"


def test_mutual_knn_matches_python_replay(spark):
    got = {
        (r["vec_id_a"], r["vec_id_b"]): r["cos_q6"]
        for r in Q.QUERIES["mutual_knn"][0](spark, SF).collect()
    }
    embs = {
        e["vec_id"]: [float(v) for v in e["embedding"]]
        for e in pq.read_table(f"{SF}/embeddings.parquet").to_pylist()
        if e["vec_id"] % RETRIEVAL._MK_MOD == 0
    }

    def cos(a, b):
        dot = 0.0
        for x, y in zip(a, b):
            dot = dot + x * y
        na = 0.0
        for x in a:
            na = na + x * x
        nb = 0.0
        for y in b:
            nb = nb + y * y
        return dot / (math.sqrt(na) * math.sqrt(nb))

    topk = {}
    for src, v in embs.items():
        ranked = sorted(
            ((round(cos(v, embs[t]), 6), t) for t in embs if t != src),
            key=lambda x: (-x[0], x[1]),
        )[: RETRIEVAL._MK_K]
        topk[src] = {t: c for c, t in ranked}
    want = {}
    for a, nbrs in topk.items():
        for b, c in nbrs.items():
            if a < b and a in topk[b]:
                want[(a, b)] = math.floor(c * 1.0e6 + 0.5)
    assert got == want
    # the reciprocal filter prunes: mutual edges < directed edges
    assert 0 < len(want) < sum(len(v) for v in topk.values())


def test_spatial_qa_internally_consistent(spark):
    row = Q.QUERIES["spatial_qa"][0](spark, SF).collect()[0]
    # composition check against the already-gated pip operator
    pip_rows = Q.QUERIES["pip"][0](spark, SF).collect()
    assert row["n_assignments"] == len(pip_rows)
    per_point = {}
    for r in pip_rows:
        per_point[r["point_id"]] = per_point.get(r["point_id"], 0) + 1
    assert row["n_orphan_points"] == row["n_points"] - len(per_point)
    assert row["n_ambiguous_points"] == sum(
        1 for v in per_point.values() if v >= 2
    )
    zones = {r["zone_id"] for r in pip_rows}
    assert row["n_empty_zones"] == row["n_zones"] - len(zones)
