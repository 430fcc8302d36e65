"""Round-5 batch J vs exact Python replays (LANDING.md step 5):
embedding drift, binary-quantized search, geodesic densification.
"""

import math
from collections import defaultdict

import pyarrow.parquet as pq

from osm_to_netex_spark.plans import queries as Q
from osm_to_netex_spark.plans.queries import retrieval as RETRIEVAL, spatial as SPATIAL

SF = "/root/testdata/sf0.001"


def _embs():
    return pq.read_table(f"{SF}/embeddings.parquet").to_pylist()


def test_embedding_drift_matches_python_replay(spark):
    got = {
        (r["label_a"], r["label_b"]): r["centroid_cos"]
        for r in Q.QUERIES["embedding_drift"][0](spark, SF).collect()
    }
    sums = defaultdict(lambda: [0] * RETRIEVAL._DRIFT_DIM)
    for e in _embs():
        for i, v in enumerate(e["embedding"]):
            sums[e["label"]][i] += math.floor(float(v) * 1.0e3 + 0.5)
    labels = sorted(sums)
    want = {}
    for i, a in enumerate(labels):
        for b in labels[i + 1:]:
            dot = sum(x * y for x, y in zip(sums[a], sums[b]))
            naa = sum(x * x for x in sums[a])
            nbb = sum(y * y for y in sums[b])
            want[(a, b)] = round(dot / (math.sqrt(naa) * math.sqrt(nbb)), 9)
    assert got == want


def test_bq_search_matches_python_replay(spark):
    got = {
        r["query_id"]: r["n_hits"]
        for r in Q.QUERIES["bq_search"][0](spark, SF).collect()
    }
    embs = {e["vec_id"]: [float(v) for v in e["embedding"]] for e in _embs()}

    def words(v):
        lo = sum(1 << i for i in range(32) if v[i] > 0.0)
        hi = sum(1 << (i - 32) for i in range(32, 64) if v[i] > 0.0)
        return lo, hi

    sig = {vid: words(v) for vid, v in embs.items()}

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

    want = {}
    queries = [vid for vid in embs if vid % RETRIEVAL._BQ_QUERY_MOD == 0]
    for qid in queries:
        qlo, qhi = sig[qid]
        ham = sorted(
            (
                (bin(qlo ^ lo).count("1") + bin(qhi ^ hi).count("1"), tid)
                for tid, (lo, hi) in sig.items()
                if tid != qid
            )
        )
        short = [tid for _, tid in ham[: RETRIEVAL._BQ_SHORTLIST]]
        rerank = sorted(
            short,
            key=lambda t: (-round(cos(embs[qid], embs[t]), 6), t),
        )[: RETRIEVAL._BQ_K]
        brute = sorted(
            (t for t in embs if t != qid),
            key=lambda t: (-round(cos(embs[qid], embs[t]), 6), t),
        )[: RETRIEVAL._BQ_K]
        want[qid] = len(set(rerank) & set(brute))
    assert got == want
    # BQ on sign bits should recover most of the exact top-10
    assert sum(got.values()) >= 0.5 * RETRIEVAL._BQ_K * len(queries)


def test_densify_matches_python_replay(spark):
    got = {
        r["zone_id"]: (r["n_segs"], r["len_mm"], r["n_inserted"])
        for r in Q.QUERIES["densify"][0](spark, SF).collect()
    }
    rows = (
        Q.QUERIES["densify"][0](spark, SF)
        .sparkSession.sql("select zone_id, pos_list from geo_polys")
        .collect()
    )
    R = 6371008.8

    def hav(ay, ax, by, bx):
        hlat = math.sin(math.radians(by - ay) / 2.0)
        hlon = math.sin(math.radians(bx - ax) / 2.0)
        return 2.0 * R * math.asin(
            math.sqrt(
                hlat * hlat
                + math.cos(math.radians(ay)) * math.cos(math.radians(by))
                * hlon * hlon
            )
        )

    step_mm = int(SPATIAL._DN_STEP_M * 1000)
    want = {}
    for r in rows:
        pl = r["pos_list"]
        n_segs = len(pl) // 2 - 1
        len_mm = ins = 0
        for i in range(1, n_segs + 1):
            ay, ax = pl[2 * i - 2], pl[2 * i - 1]
            by, bx = pl[2 * i], pl[2 * i + 1]
            leg = math.floor(hav(ay, ax, by, bx) * 1.0e3 + 0.5)
            k = (leg + step_mm - 1) // step_mm
            len_mm += leg
            ins += max(k, 1) - 1
        want[r["zone_id"]] = (n_segs, len_mm, ins)
    assert got == want
    assert any(v[2] > 0 for v in want.values())  # densification non-trivial
