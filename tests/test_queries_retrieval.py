"""Retrieval-domain registry queries (plans/queries/retrieval.py) and the
similarity operators they call vs exact Python replays: recall and
RBO evals, embedding drift, binary-quantized search, mutual kNN and IVF
top-k against its DuckDB oracle.

Oracle agreement (tools/verify_oracle.py) proves cross-engine consistency;
these replays prove the math on the sf0.001 corpus (LANDING.md step 5)."""

import math
from collections import defaultdict

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from osm_to_netex_spark.operators import dedup, similarity
from osm_to_netex_spark.plans import queries as Q
from osm_to_netex_spark.plans.queries import retrieval as RETRIEVAL
from tests.support import BITS, SEEDS, SF, THRESHOLD, duck

pytestmark = pytest.mark.usefixtures("fresh_views")


def test_recall_row_invariants(spark):
    row = RETRIEVAL.q_embed_recall(spark, SF).collect()[0]
    assert row["n_exact"] >= row["n_hit_ensemble"] >= row["n_hit_single"] >= 0
    assert 0.0 <= row["recall_single"] <= row["recall_ensemble"] <= 1.0
    # verified candidates are a subset of the exact pair set, so within
    # the sample universe the hit counts ARE the finders' pair counts
    # (no false positives anywhere)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    ens = dedup.embedding_near_dup_ensemble(
        emb, dim=64, n_bits=BITS, n_seeds=SEEDS, cos_threshold=THRESHOLD
    )
    n_ens = ens.where(
        (F.col("id_a") % RETRIEVAL._RECALL_MOD == 0) & (F.col("id_b") % RETRIEVAL._RECALL_MOD == 0)
    ).count()
    dedup.unpersist_intermediates(ens)
    assert n_ens == row["n_hit_ensemble"]


def test_rbo_matches_python_replay(spark):
    """RBO math replayed in Python from the engine's own (already gated)
    rankings: truncated RBO@k = (1-p) Σ_{d=1..k} p^(d-1) X_d / d with X_d =
    |A_1..d ∩ B_1..d|, quantized per DEPTH term like the SQL."""
    from osm_to_netex_spark.operators import retrieval
    from osm_to_netex_spark.plans.queries import corpus as CORPUS

    CORPUS.register_geometry_views(spark, SF)
    bm = retrieval.bm25_topk(spark.table("documents"), RETRIEVAL._BM25_TERMS, k=RETRIEVAL._RBO_K)
    a_ranked = [
        r["doc_id"]
        for r in sorted(bm.collect(), key=lambda r: (-r["score"], r["doc_id"]))
    ]
    tf_r = spark.sql(RETRIEVAL._tf_topk_sql("spark"))
    b_by_rank = {r["rb"]: r["doc_id"] for r in tf_r.collect()}
    b_ranked = [b_by_rank[d] for d in sorted(b_by_rank)]

    p, k = RETRIEVAL._RBO_P, RETRIEVAL._RBO_K
    want = 0
    for d in range(1, k + 1):
        x_d = len(set(a_ranked[:d]) & set(b_ranked[:d]))
        want += x_d * int(math.floor((1.0 - p) * p ** (d - 1) / d * 1e12 + 0.5))

    row = RETRIEVAL.q_rbo_eval(spark, SF).collect()[0]
    assert row["rbo_q12"] == want
    assert row["n_a"] == len(a_ranked) and row["n_b"] == len(b_ranked)
    assert row["n_overlap"] == len(set(a_ranked) & set(b_ranked))
    # bounded: rbo in [0, 1] up to truncation
    assert 0 <= row["rbo_q12"] <= 10**12


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


def test_ivf_topk_matches_duckdb_oracle(spark):
    got = {tuple(r) for r in RETRIEVAL.q_embed_topk_ivf(spark, SF).collect()}
    want = {tuple(r) for r in duck(SF, RETRIEVAL.q_embed_topk_ivf_oracle())}
    assert got == want


def test_ivf_recall_vs_brute_force(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    queries = emb.where("vec_id % 50 = 0")
    brute = similarity.topk_cosine_brute(queries, emb, k=5)
    ivf = similarity.topk_cosine_ivf(queries, emb, k=5, n_centroids=16, n_probe=8)
    b = {(r.query_id, r.vec_id) for r in brute.collect()}
    a = {(r.query_id, r.vec_id) for r in ivf.collect()}
    assert len(a & b) / len(b) >= 0.5  # ANN recall floor at generous n_probe
