"""Embedding and retrieval queries: exact and approximate top-k (IVF, PQ,
binary quantization), lexical and hybrid ranking, clustering, re-ranking
and the oracle-gated recall/ranking evaluations of those indexes.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ...functions import text as tx
from ...functions.portable import DUCK, SPARK
from ...operators import clustering, dedup, retrieval, similarity
from ...operators.dedup import _attach_cached, cosine_expr
from .corpus import register_geometry_views


def q_embed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where("vec_id % 50 = 0")
    return similarity.topk_cosine_brute(queries, emb, k=5)


def q_embed_topk_oracle() -> str:
    cos = dedup.cosine_expr("q.embedding", "c.embedding", DUCK)
    return f"""
        with scored as (
            select q.vec_id as query_id, c.vec_id as vec_id, round({cos}, 6) as cos
            from embeddings q cross join embeddings c
            where q.vec_id % 50 = 0 and c.vec_id <> q.vec_id
        ),
        ranked as (
            select query_id, vec_id, cos,
                   row_number() over (partition by query_id order by cos desc, vec_id asc) as rn
            from scored
        )
        select query_id, vec_id, cos, rn from ranked where rn <= 5"""


def q_embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    return dedup.embedding_near_dup(emb, dim=dim, n_bits=4, cos_threshold=0.35)


def q_embed_near_dup_oracle(dim: int = 64) -> str:
    bits = dedup.hyperplane_bits("embedding", 4, dim, DUCK)
    cos = dedup.cosine_expr("a.embedding", "b.embedding", DUCK)
    return f"""
        with sig as (select vec_id, embedding, {bits} as bucket from embeddings)
        select a.vec_id as id_a, b.vec_id as id_b, round({cos}, 6) as cos
        from sig a join sig b using (bucket)
        where a.vec_id < b.vec_id and round({cos}, 6) >= 0.35"""


def q_embed_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via IVF buckets (deterministic centroids = lowest vec_ids,
    n_probe nearest buckets per query) — the scale path for similarity
    search; the oracle replays the identical bucketing in SQL, so this is an
    exact check of the approximate plan."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where("vec_id % 50 = 0")
    return similarity.topk_cosine_ivf(queries, emb, k=5, n_centroids=16, n_probe=4)


def q_embed_topk_ivf_oracle() -> str:
    cos_ac = dedup.cosine_expr("e.embedding", "c.cent_vec", DUCK)
    cos_qc = dedup.cosine_expr("q.qv", "c.cent_vec", DUCK)
    cos_qv = dedup.cosine_expr("p.qv", "a.cv", DUCK)
    return f"""
        with cents as (
            select vec_id as cent_id, embedding as cent_vec
            from embeddings order by vec_id asc limit 16
        ),
        assigned as (
            select vec_id, cv, cent_id from (
                select e.vec_id, e.embedding as cv, c.cent_id,
                       row_number() over (partition by e.vec_id
                                          order by {cos_ac} desc, c.cent_id asc) as rn
                from embeddings e cross join cents c
            ) where rn = 1
        ),
        queries as (
            select vec_id as query_id, embedding as qv from embeddings where vec_id % 50 = 0
        ),
        probes as (
            select query_id, qv, cent_id from (
                select q.query_id, q.qv, c.cent_id,
                       row_number() over (partition by q.query_id
                                          order by {cos_qc} desc, c.cent_id asc) as rn
                from queries q cross join cents c
            ) where rn <= 4
        ),
        cand as (
            select p.query_id, a.vec_id, round({cos_qv}, 6) as cos
            from assigned a join probes p using (cent_id)
            where p.query_id <> a.vec_id
        )
        select query_id, vec_id, cos, rn from (
            select query_id, vec_id, cos,
                   row_number() over (partition by query_id
                                      order by cos desc, vec_id asc) as rn
            from cand
        ) where rn <= 5"""


_BM25_TERMS = ["spark", "join", "window", "vector"]


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval: global top-15 docs for a fixed query-term bag.
    Postings pruned before explode; corpus stats + df broadcast; top-k via
    TakeOrderedAndProject (operators/retrieval.py)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return retrieval.bm25_topk(docs, _BM25_TERMS, k=15)


def q_bm25_topk_oracle() -> str:
    return retrieval.bm25_topk_oracle_sql(_BM25_TERMS, k=15)


def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point Lloyd k-means (operators/clustering.py): iterative, yet
    value-hash-gated — exact integer arithmetic makes every iteration
    bit-identical across engines and partitionings."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return clustering.kmeans_fixed_point(emb, k=8, iters=3)


def q_kmeans_oracle() -> str:
    return clustering.kmeans_oracle_sql(k=8, iters=3, dim=64)


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic pruning over the embeddings table: k-means buckets
    (the oracle-gated fixed-point operator) + integer-exact within-cluster
    cosine keep-first rule (dedup.semdedup)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return dedup.semdedup(emb, k=8, iters=3, p=1, q=4)


def q_semdedup_oracle() -> str:
    return dedup.semdedup_oracle_sql(k=8, iters=3, p=1, q=4, dim=64)


def q_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed ANN: per-subspace k-means codebooks (4x16), ADC top-10
    for the 4 smallest-id queries via driver-inlined integer distance
    tables — the corpus scan is a shuffle-free projection over the code
    columns (similarity.topk_pq_adc)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return similarity.topk_pq_adc(emb, m=4, k=16, iters=2, dim=64)


def q_pq_adc_oracle() -> str:
    return similarity.topk_pq_adc_oracle_sql(m=4, k=16, iters=2, dim=64)


def q_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 top-50 + dense cosine top-50 fused by
    reciprocal-rank (retrieval.rrf_hybrid) — integer ranks, fixed IEEE
    fusion sequence, exact cross-engine."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return retrieval.rrf_hybrid(docs, emb, _BM25_TERMS, query_vec_id=0)


def q_rrf_hybrid_oracle() -> str:
    return retrieval.rrf_hybrid_oracle_sql(_BM25_TERMS, query_vec_id=0)


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation, itself oracle-gated: recall@5 of the IVF
    index vs the exact brute-force top-5, per query — the measurement a
    100 TB similarity deployment runs before trusting its index (both
    rankings are deterministic, so the metric is bit-exact)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where("vec_id % 50 = 0")
    brute = similarity.topk_cosine_brute(queries, emb, k=5).select("query_id", "vec_id")
    ivf = (
        similarity.topk_cosine_ivf(queries, emb, k=5, n_centroids=16, n_probe=4)
        .select("query_id", F.col("vec_id").alias("ivf_vec"))
    )
    joined = brute.join(
        ivf,
        (brute["query_id"] == ivf["query_id"]) & (brute["vec_id"] == ivf["ivf_vec"]),
        "left",
    ).select(brute["query_id"], brute["vec_id"], ivf["ivf_vec"])
    return joined.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_brute"),
        F.count("ivf_vec").cast("long").alias("n_hit"),
        (F.count("ivf_vec").cast("double") / F.count("*").cast("double")).alias("recall"),
    )


def q_ann_recall_oracle() -> str:
    return f"""
        with b as ({q_embed_topk_oracle()}),
        v as ({q_embed_topk_ivf_oracle()})
        select b.query_id as query_id,
               cast(count(*) as bigint) as n_brute,
               cast(count(v.vec_id) as bigint) as n_hit,
               (cast(count(v.vec_id) as double) / cast(count(*) as double)) as recall
        from b left join v on b.query_id = v.query_id and b.vec_id = v.vec_id
        group by b.query_id
    """


def q_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ index quality, itself oracle-gated: recall@10 of the ADC ranking
    against the exact cosine top-10 for the same 4 queries — quantifies
    what the m·log2(k)-bit compression costs, bit-exactly (both rankings
    deterministic)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.orderBy("vec_id").limit(4)
    brute = (
        similarity.topk_cosine_brute(queries, emb, k=10)
        .select(F.col("query_id").alias("qid"), "vec_id")
    )
    # PQ ranks over the full corpus (the query itself lands at/near rank 1);
    # take 11 and drop self so both lists offer 10 non-self candidates
    pq = (
        similarity.topk_pq_adc(emb, m=4, k=16, iters=2, dim=64, n_queries=4, topk=11)
        .where(F.col("vid") != F.col("qid"))
        .select("qid", F.col("vid").alias("pq_vec"))
    )
    joined = brute.join(
        pq, (brute["qid"] == pq["qid"]) & (brute["vec_id"] == pq["pq_vec"]), "left"
    ).select(brute["qid"], brute["vec_id"], pq["pq_vec"])
    return joined.groupBy("qid").agg(
        F.count("*").cast("long").alias("n_brute"),
        F.count("pq_vec").cast("long").alias("n_hit"),
        (F.count("pq_vec").cast("double") / F.count("*").cast("double")).alias("recall"),
    )


def q_pq_recall_oracle() -> str:
    cos = dedup.cosine_expr("q.embedding", "c.embedding", DUCK)
    pq = similarity.topk_pq_adc_oracle_sql(m=4, k=16, iters=2, dim=64, n_queries=4, topk=11)
    return f"""
        with qs as (select vec_id, embedding from embeddings order by vec_id limit 4),
        brute as (
            select qid, vec_id from (
                select q.vec_id as qid, c.vec_id as vec_id,
                       row_number() over (partition by q.vec_id
                           order by round({cos}, 6) desc, c.vec_id asc) as rn
                from qs q cross join embeddings c
                where c.vec_id <> q.vec_id
            ) where rn <= 10
        ),
        pq0 as ({pq}),
        pq as (select qid, vid from pq0 where vid <> qid)
        select brute.qid as qid,
               cast(count(*) as bigint) as n_brute,
               cast(count(pq.vid) as bigint) as n_hit,
               (cast(count(pq.vid) as double) / cast(count(*) as double)) as recall
        from brute left join pq on brute.qid = pq.qid and brute.vec_id = pq.vid
        group by brute.qid
    """


_MATRYOSHKA_DIMS = (16, 32)


def q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka/truncation evaluation: recall@5 of cosine top-k computed
    on the first 16/32 embedding dims vs the full-dim exact ranking — the
    measurement behind 'can we serve the short prefix of the embedding?'
    (MRL-style deployments).  Both rankings are deterministic ⇒ the metric
    is bit-exact, per (dim, query)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where("vec_id % 50 = 0")
    full = similarity.topk_cosine_brute(queries, emb, k=5).select(
        "query_id", "vec_id"
    )
    out = None
    for dim in _MATRYOSHKA_DIMS:
        tq = queries.selectExpr(
            "vec_id", f"slice(embedding, 1, {dim}) as embedding"
        )
        tc = emb.selectExpr("vec_id", f"slice(embedding, 1, {dim}) as embedding")
        trunc = similarity.topk_cosine_brute(tq, tc, k=5).select(
            "query_id", F.col("vec_id").alias("t_vec")
        )
        joined = full.join(
            trunc,
            (full["query_id"] == trunc["query_id"])
            & (full["vec_id"] == trunc["t_vec"]),
            "left",
        ).select(full["query_id"], full["vec_id"], trunc["t_vec"])
        per_q = joined.groupBy("query_id").agg(
            F.lit(dim).cast("int").alias("trunc_dim"),
            F.count("*").cast("long").alias("n_full"),
            F.count("t_vec").cast("long").alias("n_hit"),
            (F.count("t_vec").cast("double") / F.count("*").cast("double")).alias(
                "recall"
            ),
        ).select("trunc_dim", "query_id", "n_full", "n_hit", "recall")
        out = per_q if out is None else out.unionByName(per_q)
    return out


def _embed_topk_sliced_oracle(dim: int) -> str:
    cos = dedup.cosine_expr(
        f"list_slice(q.embedding, 1, {dim})", f"list_slice(c.embedding, 1, {dim})", DUCK
    )
    return f"""
        select query_id, vec_id from (
            select q.vec_id as query_id, c.vec_id as vec_id,
                   row_number() over (
                       partition by q.vec_id
                       order by round({cos}, 6) desc, c.vec_id asc) as rn
            from embeddings q cross join embeddings c
            where q.vec_id % 50 = 0 and c.vec_id <> q.vec_id
        ) t where rn <= 5"""


def q_matryoshka_recall_oracle() -> str:
    parts = []
    for dim in _MATRYOSHKA_DIMS:
        parts.append(f"""
        select cast({dim} as int) as trunc_dim, b.query_id as query_id,
               cast(count(*) as bigint) as n_full,
               cast(count(t.vec_id) as bigint) as n_hit,
               (cast(count(t.vec_id) as double) / cast(count(*) as double))
                   as recall
        from (select query_id, vec_id from ({q_embed_topk_oracle()})) b
        left join ({_embed_topk_sliced_oracle(dim)}) t
          on t.query_id = b.query_id and t.vec_id = b.vec_id
        group by b.query_id""")
    return " union all ".join(parts)


def _ndcg_sql(d: str, k: int = 15) -> str:
    """NDCG@k of the BM25 ranking with graded relevance = query-term hit
    count capped at 3 — the ranking-quality metric every retrieval system
    reports.  Each rank's gain term (2^rel − 1)/log2(rank+1) is quantized
    to bigint 1e-9 BEFORE the fold (order-free); IDCG re-ranks the same
    relevance grades descending; NDCG is one final division."""
    bm = retrieval.bm25_topk_oracle_sql(_BM25_TERMS, k=k) if d == DUCK else None
    toks = tx.tokens("text", d)
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    if d == SPARK:
        relx = (
            f"least(3, size(filter({toks}, t -> array_contains(array({terms}), t))))"
        )
    else:
        relx = (
            f"least(3, len(list_filter({toks}, t -> list_contains([{terms}], t))))"
        )
    gain = (
        "cast(floor((pow(2.0e0, cast(rel as double)) - 1.0e0)"
        " / (ln(cast(rnk + 1 as double)) / ln(2.0e0))"
        " * 1.0e9 + 0.5e0) as bigint)"
    )
    bm_src = "__ndcg_bm" if d == SPARK else f"({bm})"
    return f"""
        with ranked as (
            select doc_id, score,
                   cast(row_number() over (order by score desc, doc_id asc)
                        as bigint) as rnk
            from {bm_src}
        ),
        graded as (
            select r.rnk, {relx} as rel
            from ranked r join documents dd on dd.doc_id = r.doc_id
        ),
        ideal as (
            select cast(row_number() over (order by rel desc) as bigint) as rnk,
                   rel
            from graded
        ),
        dcg as (select cast(sum({gain}) as bigint) as dcg_q9 from graded),
        idcg as (select cast(sum({gain}) as bigint) as idcg_q9 from ideal)
        select cast({k} as int) as k, dcg.dcg_q9, idcg.idcg_q9,
               round(cast(dcg.dcg_q9 as double) / cast(idcg.idcg_q9 as double), 9)
                   as ndcg
        from dcg cross join idcg"""


def q_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geometry_views(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    retrieval.bm25_topk(docs, _BM25_TERMS, k=15).createOrReplaceTempView(
        "__ndcg_bm"
    )
    return spark.sql(_ndcg_sql(SPARK))


def q_ndcg_oracle() -> str:
    return _ndcg_sql(DUCK)


def q_cluster_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster cohesion (n, Σd², mean squared distance to the final
    centroid) — exact clustering-quality report
    (clustering.cluster_cohesion)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return clustering.cluster_cohesion(emb, k=8, iters=3)


def q_cluster_cohesion_oracle() -> str:
    return clustering.cluster_cohesion_oracle_sql(k=8, iters=3, dim=64)


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: per query vector, top-5 most
    similar corpus vectors with a different label
    (operators.similarity.hard_negatives)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where("vec_id % 50 = 0")
    return similarity.hard_negatives(queries, emb, k=5)


def q_hard_negatives_oracle() -> str:
    cos = dedup.cosine_expr("q.embedding", "c.embedding", DUCK)
    return f"""
        with scored as (
            select q.vec_id as query_id, c.vec_id as vec_id,
                   round({cos}, 6) as cos
            from embeddings q cross join embeddings c
            where q.vec_id % 50 = 0 and c.label <> q.label
        ),
        ranked as (
            select query_id, vec_id, cos,
                   row_number() over (
                       partition by query_id order by cos desc, vec_id asc
                   ) as rn
            from scored
        )
        select query_id, vec_id, cos, rn from ranked where rn <= 5"""


# ---------------------------------------------------------------------------
# MMR diversified re-ranking (greedy, unrolled)
# ---------------------------------------------------------------------------
def _mmr_sql(d: str, k: int = 4, pool: int = 12, lam10: int = 7) -> str:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
    from each query's top-``pool`` cosine candidates, greedily select ``k``
    maximizing λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s) — the diversification
    pass that keeps a near-dup-heavy index from returning k copies of the
    same document.

    Exactness: rel and sim are round(cos, 6) → ×1e6 integers; the MMR
    objective is the INTEGER 10·mmr = lam10·rel_q6 − (10−lam10)·maxsim_q6,
    so every greedy argmax (struct-min with vec_id tiebreak) is exact in
    both dialects.  Rounds are unrolled CTEs (k−1 selection rounds after
    the rel-top seed), the repo's fixed-point discipline.

    Scale: the candidate pool is top-``pool`` per query (window over the
    scored join); all greedy work happens on pool² pairs per query —
    constant per query, never corpus-sized."""
    cos_qc = dedup.cosine_expr("q.embedding", "c.embedding", d)
    cos_ab = dedup.cosine_expr("x.embedding", "y.embedding", d)
    lam_b = 10 - lam10
    ctes = [
        f"""qset as (
            select vec_id, embedding from embeddings where vec_id % 97 = 0
        )""",
        f"""scored as (
            select q.vec_id as qid, c.vec_id as cid,
                   cast(round(round({cos_qc}, 6) * 1000000.0e0) as bigint) as rel_q6
            from qset q join embeddings c on c.vec_id <> q.vec_id
        )""",
        f"""pool as (
            select qid, cid, rel_q6 from (
                select qid, cid, rel_q6,
                       row_number() over (partition by qid
                                          order by rel_q6 desc, cid asc) as rn
                from scored
            ) r where rn <= {pool}
        )""",
        f"""psim as (
            select a.qid, a.cid as ca, b.cid as cb,
                   cast(round(round({cos_ab}, 6) * 1000000.0e0) as bigint) as s_q6
            from pool a
            join pool b on b.qid = a.qid and b.cid <> a.cid
            join embeddings x on x.vec_id = a.cid
            join embeddings y on y.vec_id = b.cid
        )""",
        """sel1 as (
            select qid, cid, cast(1 as bigint) as pick, rel_q6 from (
                select qid, cid, rel_q6,
                       row_number() over (partition by qid
                                          order by rel_q6 desc, cid asc) as rn
                from pool
            ) r where rn = 1
        )""",
    ]
    prev = "sel1"
    for t in range(2, k + 1):
        ctes.append(f"""cand{t} as (
            select p.qid, p.cid, p.rel_q6,
                   max(s.s_q6) as maxsim_q6
            from pool p
            join psim s on s.qid = p.qid and s.ca = p.cid
            join {prev} sel on sel.qid = s.qid and sel.cid = s.cb
            where not exists (select 1 from {prev} z
                              where z.qid = p.qid and z.cid = p.cid)
            group by p.qid, p.cid, p.rel_q6
        )""")
        ctes.append(f"""pick{t} as (
            select qid, cid, cast({t} as bigint) as pick, rel_q6 from (
                select qid, cid, rel_q6,
                       row_number() over (partition by qid
                           order by {lam10} * rel_q6 - {lam_b} * maxsim_q6 desc,
                                    cid asc) as rn
                from cand{t}
            ) r where rn = 1
        )""")
        ctes.append(
            f"sel{t} as (select * from {prev} union all select * from pick{t})"
        )
        prev = f"sel{t}"
    return (
        "with " + ",\n".join(ctes)
        + f"\n        select qid as query_id, cid as vec_id, pick, rel_q6"
          f" from {prev}"
    )


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geometry_views(spark, sf_dir)
    return spark.sql(_mmr_sql(SPARK))


def q_mmr_rerank_oracle() -> str:
    return _mmr_sql(DUCK)


# ---------------------------------------------------------------------------
# Distributed PCA: top principal direction via matrix-free power iteration
# ---------------------------------------------------------------------------
_PCA_ROUNDS = 8


def _pca_centered_sql(d: str) -> str:
    """(vec_id, i, c): mean-centered embedding entries in integer 1e-6
    units — x quantized to 1e6 BEFORE the mean so centering is pure
    integer arithmetic (mean itself quantized to 1e-6, stated)."""
    if d == SPARK:
        ex = (
            "select vec_id, posexplode(embedding) as (i, x) from embeddings"
        )
    else:
        ex = (
            "select vec_id, generate_subscripts(embedding, 1) - 1 as i, "
            "unnest(embedding) as x from embeddings"
        )
    return f"""
        select e.vec_id, e.i,
               cast(e.xq - m.mq as bigint) as c
        from (select vec_id, i,
                     cast(round(cast(x as double) * 1000000.0e0) as bigint) as xq
              from ({ex}) t) e
        join (select i,
                     cast(floor(cast(sum(cast(round(cast(x as double)
                              * 1000000.0e0) as bigint)) as double)
                          / cast(count(*) as double) + 0.5e0) as bigint) as mq
              from ({ex}) t group by i) m on m.i = e.i"""


def _pca_body(d: str, src: str, rounds: int = _PCA_ROUNDS) -> str:
    """Unrolled power-iteration CTE chain over the centered table ``src``.

    All folds are INTEGER: v in 1e-6 units, per-row score s = Σ c·v exact
    bigint, back-projection u = Σ c·(s div 1e6) exact bigint, norm² =
    Σ (u div 1e9)² exact bigint; the only doubles are the one sqrt+division
    per round (IEEE correctly-rounded → bit-identical both engines)."""
    div = "div" if d == SPARK else "//"
    ctes = [
        "v0 as (select 0 as i, cast(1000000 as bigint) as v)",
    ]
    prev = "v0"
    for t in range(1, rounds + 1):
        ctes.append(f"""s{t} as (
            select c.vec_id, cast(sum(c.c * v.v) as bigint) as s
            from {src} c join {prev} v on v.i = c.i
            group by c.vec_id
        )""")
        ctes.append(f"""u{t} as (
            select c.i, cast(sum(c.c * (s.s {div} 1000000)) as bigint) as u
            from {src} c join s{t} s on s.vec_id = c.vec_id
            group by c.i
        )""")
        # single-reference CTE chain: the norm rides a window over u{t}
        # (a separate norm CTE would reference u{t} twice, and an engine
        # that inlines multi-referenced CTEs re-evaluates the whole chain
        # per reference -- exponential in rounds)
        ctes.append(f"""v{t} as (
            select i,
                   cast(round(cast(ud as double)
                        / sqrt(cast(n2 as double)) * 1000000.0e0) as bigint)
                       as v
            from (select i, (u {div} 1000000000) as ud,
                         sum((u {div} 1000000000) * (u {div} 1000000000))
                             over () as n2
                  from u{t}) w
        )""")
        prev = f"v{t}"
    return ",\n".join(ctes) + f"\n        select i as dim, v as v_q6 from {prev}"


def q_pca_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding cloud by matrix-free power
    iteration: each round is two corpus-shaped joins (row-score, then
    back-projection) against the 64-row broadcast iterate — the covariance
    matrix is never materialized.  The centered long table persists once
    (2·K reuses); the oracle unrolls the identical integer rounds.

    Scale: each round shuffles (vec_id)- then (i)-keyed map-side-combined
    sums; state between rounds is 64 rows.  At 10^12 rows this is the
    standard distributed PCA recipe (e.g. Spark MLlib's own
    computePrincipalComponents does the same matrix-free products)."""
    register_geometry_views(spark, sf_dir)
    centered = spark.sql(_pca_centered_sql(SPARK)).persist()
    centered.createOrReplaceTempView("__pca_c")
    out = spark.sql("with " + _pca_body(SPARK, "__pca_c"))
    return _attach_cached(out, [centered])


def q_pca_top_oracle() -> str:
    return (
        f"with c0 as ({_pca_centered_sql(DUCK)}),\n"
        + _pca_body(DUCK, "c0")
    )


# ---------------------------------------------------------------------------
# Item-item collaborative filtering (co-occurrence cosine + top-k recs)
# ---------------------------------------------------------------------------
def _item_cf_sql(d: str, min_co: int = 2, k: int = 3) -> str:
    """Amazon-style item-item CF over the order baskets: cosine similarity
    on binary co-occurrence (co / √n_a·√n_b), top-``k`` neighbors per item
    — the classic batch recommender precompute (Linden et al. 2003).

    Exactness: co-counts and item supports are integers; the similarity is
    ONE double expression quantized to 1e-9 BEFORE ranking, so the top-k
    window (sim desc, neighbor asc) is an exact integer/id order.

    Scale: same Θ(Σ basket²) pair join as frequent_pairs — distinct-first,
    orderkey-keyed, min_co prune before the norm joins; supports are an
    item-dimension broadcast."""
    return f"""
        with b as (
            select distinct l_orderkey as ok, l_partkey as item from lineitem
        ),
        supp as (select item, cast(count(*) as bigint) as n_i from b group by item),
        co as (
            select a.item as ia, x.item as ib, cast(count(*) as bigint) as co
            from b a join b x on x.ok = a.ok and x.item <> a.item
            group by a.item, x.item
            having count(*) >= {int(min_co)}
        ),
        scored as (
            select co.ia, co.ib, co.co,
                   cast(floor(cast(co.co as double)
                        / (sqrt(cast(sa.n_i as double))
                           * sqrt(cast(sb.n_i as double)))
                        * 1000000000.0e0 + 0.5e0) as bigint) as sim_q9
            from co
            join supp sa on sa.item = co.ia
            join supp sb on sb.item = co.ib
        )
        select ia as item, ib as rec, co, sim_q9,
               cast(rn as bigint) as rank
        from (
            select ia, ib, co, sim_q9,
                   row_number() over (partition by ia
                                      order by sim_q9 desc, ib asc) as rn
            from scored
        ) r where rn <= {int(k)}"""


def q_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geometry_views(spark, sf_dir)
    return spark.sql(_item_cf_sql(SPARK))


def q_item_cf_oracle() -> str:
    return _item_cf_sql(DUCK)


# ---------------------------------------------------------------------------
# Per-document TF-IDF keyword extraction
# ---------------------------------------------------------------------------
def _tfidf_topk_sql(d: str, k: int = 5) -> str:
    """Top-``k`` TF-IDF keywords per document — the per-doc counterpart of
    the corpus-level top_terms heavy hitters (what a search snippet /
    tagging pipeline extracts).  idf = ln((N+1)/(df+1)) (smoothed); the
    score tf·idf is quantized to 1e-6 before the rank window so the
    (score desc, term asc) order is exact.

    Scale: explode → (doc, term) counts (map-side combined), df join is
    term-dimension-sized, one doc-partitioned window."""
    toks = tx.tokens("text", d)
    unnest = (
        f"select doc_id, explode({toks}) as term from documents"
        if d == SPARK
        else f"select doc_id, unnest({toks}) as term from documents"
    )
    return f"""
        with t as ({unnest}),
        tf as (select doc_id, term, cast(count(*) as bigint) as tf
               from t group by doc_id, term),
        df as (select term, cast(count(*) as bigint) as df from tf group by term),
        n as (select cast(count(distinct doc_id) as bigint) as n from tf),
        scored as (
            select tf.doc_id, tf.term,
                   cast(floor(cast(tf.tf as double)
                        * ln((cast(n.n as double) + 1.0e0)
                             / (cast(df.df as double) + 1.0e0))
                        * 1000000.0e0 + 0.5e0) as bigint) as score_q6
            from tf join df on df.term = tf.term cross join n
        )
        select doc_id, term, cast(rn as bigint) as rank, score_q6
        from (
            select doc_id, term, score_q6,
                   row_number() over (partition by doc_id
                                      order by score_q6 desc, term asc) as rn
            from scored
        ) r where rn <= {int(k)}"""


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geometry_views(spark, sf_dir)
    return spark.sql(_tfidf_topk_sql(SPARK))


def q_tfidf_topk_oracle() -> str:
    return _tfidf_topk_sql(DUCK)


# ---------------------------------------------------------------------------
# Rocchio pseudo-relevance-feedback query expansion
# ---------------------------------------------------------------------------
_ROCCHIO_Q = ["spark", "join", "window", "vector"]  # same bag as bm25_topk
_ROCCHIO_R = 5   # feedback depth
_ROCCHIO_E = 5   # expansion terms
_ROCCHIO_K = 10  # final top-k


def _rocchio_sql(d: str) -> str:
    """Rocchio pseudo-relevance feedback (the classic PRF expansion): rank
    once with the original query, take the top-R docs as pseudo-relevant,
    expand the query with their top-E tf·idf terms (q' = α·q + β/R·Σd —
    α=β=1 cleared to integers), re-rank the corpus with the expanded
    weights — the recall-booster behind every "searches related to"
    pipeline, kept fully deterministic.

    Exactness: tf·idf quantized to 1e-6 integers ONCE; both ranking
    passes, the expansion-term selection, and the final scores are pure
    bigint folds with (score desc, id asc) tie-breaks — no float ever
    crosses a rank boundary.

    Scale: two corpus-scored passes over the (doc, term) postings (map-
    side combined), with the R-doc feedback set and the ≤|Q|+E expanded
    term list as broadcast dimensions."""
    toks = tx.tokens("text", d)
    unnest = (
        f"select doc_id, explode({toks}) as term from documents"
        if d == SPARK
        else f"select doc_id, unnest({toks}) as term from documents"
    )
    qterms = ", ".join(f"('{t}')" for t in _ROCCHIO_Q)
    qsrc = (
        f"select term from (values {qterms}) as q(term)"
        if d == DUCK
        else "select term from (values " + qterms + ") as q(term)"
    )
    return f"""
        with t as ({unnest}),
        tf as (select doc_id, term, cast(count(*) as bigint) as tf
               from t group by doc_id, term),
        dft as (select term, cast(count(*) as bigint) as df from tf group by term),
        n as (select cast(count(distinct doc_id) as bigint) as n from tf),
        tfidf as (
            select tf.doc_id, tf.term,
                   cast(floor(cast(tf.tf as double)
                        * ln((cast(n.n as double) + 1.0e0)
                             / (cast(dft.df as double) + 1.0e0))
                        * 1000000.0e0 + 0.5e0) as bigint) as w_q6
            from tf join dft on dft.term = tf.term cross join n
        ),
        q0 as ({qsrc}),
        s1 as (
            select w.doc_id, cast(sum(w.w_q6) as bigint) as score1
            from tfidf w join q0 on q0.term = w.term
            group by w.doc_id
        ),
        fb as (
            select doc_id from (
                select doc_id,
                       row_number() over (order by score1 desc, doc_id asc) as rn
                from s1
            ) r where rn <= {_ROCCHIO_R}
        ),
        expw as (
            select w.term, cast(sum(w.w_q6) as bigint) as w_sum
            from tfidf w join fb on fb.doc_id = w.doc_id
            where not exists (select 1 from q0 where q0.term = w.term)
            group by w.term
        ),
        expsel as (
            select term, w_sum from (
                select term, w_sum,
                       row_number() over (order by w_sum desc, term asc) as rn
                from expw
            ) r where rn <= {_ROCCHIO_E}
        ),
        qprime as (
            select q0.term,
                   cast({_ROCCHIO_R} as bigint)
                   * (select max(idf_q6) from (
                        select cast(floor(ln((cast(n.n as double) + 1.0e0)
                               / (cast(dft.df as double) + 1.0e0))
                               * 1000000.0e0 + 0.5e0) as bigint) as idf_q6
                        from dft cross join n where dft.term = q0.term)) as w
            from q0
            union all
            select term, w_sum as w from expsel
        ),
        s2 as (
            select w.doc_id, cast(sum(qp.w * w.w_q6) as bigint) as score2
            from tfidf w join qprime qp on qp.term = w.term
            group by w.doc_id
        )
        select doc_id, score2, cast(rn as bigint) as rank
        from (
            select doc_id, score2,
                   row_number() over (order by score2 desc, doc_id asc) as rn
            from s2
        ) r where rn <= {_ROCCHIO_K}"""


def q_rocchio(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geometry_views(spark, sf_dir)
    return spark.sql(_rocchio_sql(SPARK))


def q_rocchio_oracle() -> str:
    return _rocchio_sql(DUCK)


_ND_BITS = 4
_ND_SEEDS = 3
_ND_THRESHOLD = 0.35
# recall-eval universe: vec_id % mod == 0 on both pair sides — bounds the
# exact reference's quadratic at every scale, independent of the buckets
_RECALL_MOD = 3


# ---------------------------------------------------------------------------
# Seed-ensemble embedding near-dup (SCALE.md known-limit #2, shipped)
# ---------------------------------------------------------------------------
def q_embed_near_dup_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-of-3-seed hyperplane bucketings, exact verify once — the
    recall mitigation the single-seed operator documented, as an operator
    (operators/dedup.py embedding_near_dup_ensemble)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    return dedup.embedding_near_dup_ensemble(
        emb, dim=dim, n_bits=_ND_BITS, n_seeds=_ND_SEEDS, cos_threshold=_ND_THRESHOLD
    )


def q_embed_near_dup_ensemble_oracle(dim: int = 64) -> str:
    cos = dedup.cosine_expr("a.embedding", "b.embedding", DUCK)
    buckets = ", ".join(
        f"{dedup.hyperplane_bits('embedding', _ND_BITS, dim, DUCK, seed=dedup._seed_tag(s))} as b{s}"
        for s in range(_ND_SEEDS)
    )
    cands = "\n            union\n".join(
        f"            select x.vec_id as id_a, y.vec_id as id_b "
        f"from sig x join sig y on x.b{s} = y.b{s} where x.vec_id < y.vec_id"
        for s in range(_ND_SEEDS)
    )
    return f"""
        with sig as (select vec_id, embedding, {buckets} from embeddings),
        cand as (
{cands}
        )
        select cand.id_a, cand.id_b, round({cos}, 6) as cos
        from cand
        join sig a on a.vec_id = cand.id_a
        join sig b on b.vec_id = cand.id_b
        where round({cos}, 6) >= {_ND_THRESHOLD!r}e0"""


# ---------------------------------------------------------------------------
# Embedding near-dup recall eval vs the exact pair set (lsh_recall pattern)
# ---------------------------------------------------------------------------
def q_embed_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the single-seed and 3-seed-ensemble near-dup finders
    against the EXACT cosine pair set at the same threshold, measured over
    a deterministic id-sample universe (``vec_id % 3 = 0`` on BOTH
    sides) — the quantified form of SCALE.md's recall discussion.  The
    sample bounds the exact reference's quadratic at EVERY scale (the
    recall estimate is unbiased: membership is independent of the
    hyperplane buckets); the finders' pair sets are restricted to the same
    universe, so numerator ⊆ denominator by construction."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    uni = emb.where(F.col("vec_id") % _RECALL_MOD == 0)
    base = uni.select(
        F.col("vec_id").alias("vid"),
        F.col("embedding").alias("vec"),
        F.expr(
            "sqrt(aggregate(embedding, 0.0e0, (s, x) -> s + cast(x as double) * cast(x as double)))"
        ).alias("nrm"),
    )
    a = base.selectExpr("vid as id_a", "vec as va", "nrm as na")
    b = base.selectExpr("vid as id_b", "vec as vb", "nrm as nb")
    dot = (
        "aggregate(zip_with(va, vb, (x, y) -> cast(x as double) * cast(y as double)), "
        "0.0e0, (s, v) -> s + v)"
    )
    cos = f"(({dot}) / nullif(na * nb, 0.0e0))"
    exact = (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(F.expr(cos), 6))
        .where(F.col("cos") >= _ND_THRESHOLD)
        .select("id_a", "id_b")
    )
    in_uni = (F.col("id_a") % _RECALL_MOD == 0) & (F.col("id_b") % _RECALL_MOD == 0)
    single = (
        dedup.embedding_near_dup(
            emb, dim=dim, n_bits=_ND_BITS, cos_threshold=_ND_THRESHOLD
        )
        .where(in_uni)
        .select("id_a", "id_b", F.lit(1).alias("hit1"))
    )
    ens = (
        dedup.embedding_near_dup_ensemble(
            emb, dim=dim, n_bits=_ND_BITS, n_seeds=_ND_SEEDS, cos_threshold=_ND_THRESHOLD
        )
        .where(in_uni)
        .select("id_a", "id_b", F.lit(1).alias("hite"))
    )
    joined = exact.join(single, ["id_a", "id_b"], "left").join(
        ens, ["id_a", "id_b"], "left"
    )
    out = joined.agg(
        F.count("*").cast("long").alias("n_exact"),
        F.count("hit1").cast("long").alias("n_hit_single"),
        F.count("hite").cast("long").alias("n_hit_ensemble"),
        F.when(F.count("*") == 0, F.lit(0.0))
        .otherwise(F.round(F.count("hit1").cast("double") / F.count("*").cast("double"), 9))
        .alias("recall_single"),
        F.when(F.count("*") == 0, F.lit(0.0))
        .otherwise(F.round(F.count("hite").cast("double") / F.count("*").cast("double"), 9))
        .alias("recall_ensemble"),
    )
    out._graft_cached = tuple(getattr(single, "_graft_cached", ())) + tuple(
        getattr(ens, "_graft_cached", ())
    )
    return out


def q_embed_recall_oracle(dim: int = 64) -> str:
    cos = dedup.cosine_expr("a.embedding", "b.embedding", DUCK)
    m = _RECALL_MOD
    return f"""
        with uni as (select * from embeddings where vec_id % {m} = 0),
        exact as (
            select a.vec_id as id_a, b.vec_id as id_b
            from uni a join uni b on a.vec_id < b.vec_id
            where round({cos}, 6) >= {_ND_THRESHOLD!r}e0
        ),
        s1 as (select * from ({q_embed_near_dup_oracle(dim)})
               where id_a % {m} = 0 and id_b % {m} = 0),
        se as (select * from ({q_embed_near_dup_ensemble_oracle(dim)})
               where id_a % {m} = 0 and id_b % {m} = 0)
        select cast(count(*) as bigint) as n_exact,
               cast(count(s1.id_a) as bigint) as n_hit_single,
               cast(count(se.id_a) as bigint) as n_hit_ensemble,
               case when count(*) = 0 then 0.0e0
                    else round(cast(count(s1.id_a) as double)
                               / cast(count(*) as double), 9) end as recall_single,
               case when count(*) = 0 then 0.0e0
                    else round(cast(count(se.id_a) as double)
                               / cast(count(*) as double), 9) end as recall_ensemble
        from exact
        left join s1 on s1.id_a = exact.id_a and s1.id_b = exact.id_b
        left join se on se.id_a = exact.id_a and se.id_b = exact.id_b"""


# ---------------------------------------------------------------------------
# Rank-biased overlap between two retrieval rankings (Webber et al. 2010)
# ---------------------------------------------------------------------------
_RBO_P = 0.9
_RBO_K = 15


def _rbo_cum_weights() -> dict:
    """cw[m] = sum_{d=m..k} (1-p) p^(d-1) / d, quantized to 1e12 units per
    DEPTH TERM before the cumulative sum — identical integer literals in
    both dialects, so the fold is order-free and exact."""
    w = {
        d: int(math.floor((1.0 - _RBO_P) * _RBO_P ** (d - 1) / d * 1e12 + 0.5))
        for d in range(1, _RBO_K + 1)
    }
    return {m: sum(w[d] for d in range(m, _RBO_K + 1)) for m in range(1, _RBO_K + 1)}


def _tf_topk_sql(d: str) -> str:
    """Plain term-frequency ranking of the SAME query-term bag bm25_topk
    serves — the idf/length-normalization ablation RBO compares against."""
    toks = tx.tokens("text", d)
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    unnest = (
        f"select doc_id, explode({toks}) as term from documents"
        if d == SPARK
        else f"select doc_id, unnest({toks}) as term from documents"
    )
    return f"""
        select doc_id, cast(rn as bigint) as rb from (
            select doc_id, row_number() over (order by tf desc, doc_id asc) as rn
            from (select doc_id, cast(count(*) as bigint) as tf
                  from ({unnest}) t where term in ({terms})
                  group by doc_id) c
        ) r where rn <= {_RBO_K}"""


def q_rbo_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RBO(p=0.9)@15 between the BM25 ranking and the plain-TF ranking of
    the same query bag: the top-weighted rank-agreement number that says
    how much the idf + length normalization actually reorders what a user
    sees.  Sum swapped to per-matched-doc cumulative weights cw(max(ra,rb))
    — one broadcast join of two k-row rankings, integer-exact."""
    register_geometry_views(spark, sf_dir)
    docs = spark.table("documents")
    bm = retrieval.bm25_topk(docs, _BM25_TERMS, k=_RBO_K)
    bm_r = bm.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score"), F.asc("doc_id")))
        .cast("long")
        .alias("ra"),
    )
    tf_r = spark.sql(_tf_topk_sql(SPARK))
    cw = _rbo_cum_weights()
    case = "case greatest(ra, rb) " + " ".join(
        f"when {m} then {v}" for m, v in cw.items()
    ) + " end"
    joined = bm_r.join(tf_r, "doc_id")
    return (
        joined.agg(
            F.count("*").cast("long").alias("n_overlap"),
            F.coalesce(F.sum(F.expr(case)), F.lit(0)).cast("long").alias("rbo_q12"),
        )
        .crossJoin(bm_r.agg(F.count("*").cast("long").alias("n_a")))
        .crossJoin(tf_r.agg(F.count("*").cast("long").alias("n_b")))
        .select("n_a", "n_b", "n_overlap", "rbo_q12")
    )


def q_rbo_eval_oracle() -> str:
    cw = _rbo_cum_weights()
    case = "case greatest(ra, rb) " + " ".join(
        f"when {m} then {v}" for m, v in cw.items()
    ) + " end"
    bm = retrieval.bm25_topk_oracle_sql(_BM25_TERMS, k=_RBO_K)
    return f"""
        with bm as ({bm}),
        bm_r as (
            select doc_id,
                   cast(row_number() over (order by score desc, doc_id asc) as bigint) as ra
            from bm
        ),
        tf_r as ({_tf_topk_sql(DUCK)}),
        j as (select ra, rb from bm_r join tf_r using (doc_id))
        select (select cast(count(*) as bigint) from bm_r) as n_a,
               (select cast(count(*) as bigint) from tf_r) as n_b,
               cast(count(*) as bigint) as n_overlap,
               cast(coalesce(sum({case}), 0) as bigint) as rbo_q12
        from j"""


def _emb_view(spark: SparkSession, sf_dir: str) -> None:
    spark.read.parquet(f"{sf_dir}/embeddings.parquet").createOrReplaceTempView(
        "embeddings"
    )


# ---------------------------------------------------------------------------
# Embedding drift (per-label centroid divergence)
# ---------------------------------------------------------------------------
_DRIFT_DIM = 64


def _pos_explode_emb(d: str) -> str:
    if d == SPARK:
        return (
            "select label, pos, cast(floor(cast(v as double) * 1.0e3 + 0.5e0)"
            " as bigint) as v_q3 from (select label,"
            " posexplode(embedding) as (pos, v) from embeddings)"
        )
    return (
        "select label, t.i - 1 as pos, cast(floor(cast(embedding[t.i] as"
        " double) * 1.0e3 + 0.5e0) as bigint) as v_q3 from embeddings,"
        " unnest(generate_series(1, len(embedding))) t(i)"
    )


def _embedding_drift_sql(d: str) -> str:
    """Pairwise cosine between per-label embedding centroids — the drift
    monitor that flags when one corpus slice's representation departs
    from another's (or from its own last snapshot).  Cosine is computed
    on the component-SUM vectors (scale-invariant ⇒ identical to the
    mean-vector cosine), and those sums are exact bigints of 1e-3
    quantized components — no float fold crosses rows anywhere; the
    cosine is one fixed float sequence per label pair.

    Scale: one (label, dim) map-side-combined aggregate (label·64 rows),
    then an all-pairs join over the LABEL table — dimension-sized, never
    the corpus."""
    return f"""
        with comp as ({_pos_explode_emb(d)}),
        cent as (
            select label, pos, cast(sum(v_q3) as bigint) as s
            from comp group by label, pos
        ),
        pair as (
            select a.label as label_a, b.label as label_b,
                   cast(sum(a.s * b.s) as bigint) as dot,
                   cast(sum(a.s * a.s) as bigint) as naa,
                   cast(sum(b.s * b.s) as bigint) as nbb
            from cent a
            join cent b on b.pos = a.pos and a.label < b.label
            group by a.label, b.label
        )
        select label_a, label_b,
               round(cast(dot as double)
                     / (sqrt(cast(naa as double)) * sqrt(cast(nbb as double))),
                     9) as centroid_cos
        from pair"""


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    _emb_view(spark, sf_dir)
    return spark.sql(_embedding_drift_sql(SPARK))


def q_embedding_drift_oracle() -> str:
    return _embedding_drift_sql(DUCK)


# ---------------------------------------------------------------------------
# Binary-quantized search (sign bits + Hamming shortlist + exact rerank)
# ---------------------------------------------------------------------------
_BQ_QUERY_MOD = 97
_BQ_SHORTLIST = 32
_BQ_K = 10


def _bq_sql(d: str) -> str:
    """Binary-quantization ANN eval: vectors collapse to 64 sign bits
    (two 32-bit words — bit 63 of a single bigint would overflow
    engine-dependently), candidates shortlist by Hamming distance
    (integer bit_count over XOR), the shortlist reranks by exact cosine,
    and recall@10 is measured against the brute-force cosine top-10 per
    query — the modern vector-DB BQ pipeline end to end.

    Determinism: Hamming and its (distance, vec_id) tie-break are pure
    integers; the rerank rounds cosine to 1e-6 with a vec_id tie-break —
    the ann_recall conventions.

    Scale: the sign words are a scan projection; the query side
    (vec_id % 97) broadcasts against the word table, so the Hamming pass
    is corpus × queries with a 64-bit integer kernel — the cheap filter
    that makes the exact cosine run only on shortlist×queries.  Brute
    ground truth is the documented eval-only quadratic (lsh_recall
    posture)."""
    xor = (lambda a, b: f"({a} ^ {b})") if d == SPARK else (
        lambda a, b: f"xor({a}, {b})"
    )
    if d == SPARK:
        word = (
            lambda lo, hi: "aggregate(sequence({lo}, {hi}), cast(0 as bigint),"
            " (s, i) -> s + cast(case when cast(element_at(embedding,"
            " cast(i + 1 as int)) as double) > 0.0e0 then shiftleft(cast(1 as"
            " bigint), i - {lo}) else 0 end as bigint))".format(lo=lo, hi=hi)
        )
    else:
        word = (
            lambda lo, hi: "list_reduce(list_prepend(cast(0 as bigint),"
            " list_transform(generate_series({lo}, {hi}), i -> cast(case when"
            " cast(embedding[i + 1] as double) > 0.0e0 then (cast(1 as bigint)"
            " << (i - {lo})) else 0 end as bigint))), (s, v) -> s + v)".format(
                lo=lo, hi=hi
            )
        )
    cos = cosine_expr("q.embedding", "t.embedding", d)
    return f"""
        with sig as (
            select vec_id, embedding,
                   {word(0, 31)} as w_lo, {word(32, 63)} as w_hi
            from embeddings
        ),
        qs as (select * from sig where vec_id % {_BQ_QUERY_MOD} = 0),
        ham as (
            select q.vec_id as qid, t.vec_id as tid,
                   cast(bit_count({xor('q.w_lo', 't.w_lo')})
                        + bit_count({xor('q.w_hi', 't.w_hi')}) as bigint)
                       as hd,
                   row_number() over (
                       partition by q.vec_id
                       order by bit_count({xor('q.w_lo', 't.w_lo')})
                              + bit_count({xor('q.w_hi', 't.w_hi')}) asc,
                              t.vec_id asc) as hrk
            from qs q join sig t on t.vec_id <> q.vec_id
        ),
        rerank as (
            select h.qid, h.tid,
                   row_number() over (
                       partition by h.qid
                       order by round({cos}, 6) desc, h.tid asc) as rrk
            from ham h
            join embeddings q on q.vec_id = h.qid
            join embeddings t on t.vec_id = h.tid
            where h.hrk <= {_BQ_SHORTLIST}
        ),
        brute as (
            select q.vec_id as qid, t.vec_id as tid,
                   row_number() over (
                       partition by q.vec_id
                       order by round({cos}, 6) desc, t.vec_id asc) as brk
            from (select * from embeddings
                  where vec_id % {_BQ_QUERY_MOD} = 0) q
            join embeddings t on t.vec_id <> q.vec_id
        )
        select b.qid as query_id,
               cast(count(r.tid) as bigint) as n_hits,
               cast(count(r.tid) * 100000 as bigint) as recall_q6
        from brute b
        left join rerank r on r.qid = b.qid and r.tid = b.tid
             and r.rrk <= {_BQ_K}
        where b.brk <= {_BQ_K}
        group by b.qid"""


def q_bq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    _emb_view(spark, sf_dir)
    return spark.sql(_bq_sql(SPARK))


def q_bq_search_oracle() -> str:
    return _bq_sql(DUCK)


_MK_K = 5
# the brute rank runs over a deterministic id-sample universe (the
# embedding_recall convention) — bounds the eval-posture quadratic at
# every SF; the production path feeds the same reciprocal filter from
# the gated IVF/LSH candidate sets
_MK_MOD = 3


# ---------------------------------------------------------------------------
# Mutual-kNN graph (the backbone graph of semantic clustering/dedup)
# ---------------------------------------------------------------------------
def _mutual_knn_sql(d: str) -> str:
    """Mutual-kNN pairs over the embedding corpus: (a, b) is an edge iff
    b is in a's cosine top-5 AND a is in b's — the reciprocal filter that
    turns a noisy kNN into the high-precision graph semantic clustering
    pipelines (SemDeDup-style) build components on.  Determinism: cosine
    rounded 1e-6, vec_id tie-breaks, canonical a < b.

    Scale: the neighbor lists here come from the brute rank over a
    deterministic id-sample universe (vec_id % 3 = 0 — the
    embedding_recall convention, bounding the eval-posture quadratic at
    every SF); the production path feeds the same reciprocal filter from
    the IVF or LSH candidate sets already gated in this registry.  The
    mutual join itself is an ids-only self-join of two k·n row lists."""
    cos = cosine_expr("a.embedding", "b.embedding", d)
    return f"""
        with uni as (
            select vec_id, embedding from embeddings
            where vec_id % {_MK_MOD} = 0
        ),
        ranked as (
            select a.vec_id as src, b.vec_id as dst,
                   round({cos}, 6) as cos,
                   row_number() over (
                       partition by a.vec_id
                       order by round({cos}, 6) desc, b.vec_id asc) as rk
            from uni a join uni b on b.vec_id <> a.vec_id
        ),
        topk as (select src, dst, cos from ranked where rk <= {_MK_K})
        select f.src as vec_id_a, f.dst as vec_id_b,
               cast(floor(f.cos * 1.0e6 + 0.5e0) as bigint) as cos_q6
        from topk f
        join topk r on r.src = f.dst and r.dst = f.src
        where f.src < f.dst"""


def q_mutual_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/embeddings.parquet").createOrReplaceTempView(
        "embeddings"
    )
    return spark.sql(_mutual_knn_sql(SPARK))


def q_mutual_knn_oracle() -> str:
    return _mutual_knn_sql(DUCK)


QUERIES = {
    "embedding_topk": (q_embed_topk, q_embed_topk_oracle),
    "embedding_topk_ivf": (q_embed_topk_ivf, q_embed_topk_ivf_oracle),
    "embedding_near_dup": (q_embed_near_dup, q_embed_near_dup_oracle),
    "bm25_topk": (q_bm25_topk, q_bm25_topk_oracle),
    "kmeans": (q_kmeans, q_kmeans_oracle),
    "semdedup": (q_semdedup, q_semdedup_oracle),
    "pq_adc": (q_pq_adc, q_pq_adc_oracle),
    "rrf_hybrid": (q_rrf_hybrid, q_rrf_hybrid_oracle),
    "ann_recall": (q_ann_recall, q_ann_recall_oracle),
    "pq_recall": (q_pq_recall, q_pq_recall_oracle),
    "matryoshka_recall": (q_matryoshka_recall, q_matryoshka_recall_oracle),
    "ndcg": (q_ndcg, q_ndcg_oracle),
    "cluster_cohesion": (q_cluster_cohesion, q_cluster_cohesion_oracle),
    "hard_negatives": (q_hard_negatives, q_hard_negatives_oracle),
    "mmr_rerank": (q_mmr_rerank, q_mmr_rerank_oracle),
    "pca_top": (q_pca_top, q_pca_top_oracle),
    "item_cf": (q_item_cf, q_item_cf_oracle),
    "rocchio_expand": (q_rocchio, q_rocchio_oracle),
    "tfidf_topk": (q_tfidf_topk, q_tfidf_topk_oracle),
    "embedding_near_dup_ensemble": (
        q_embed_near_dup_ensemble, q_embed_near_dup_ensemble_oracle,
    ),
    "embedding_recall": (q_embed_recall, q_embed_recall_oracle),
    "rbo_eval": (q_rbo_eval, q_rbo_eval_oracle),
    "embedding_drift": (q_embedding_drift, q_embedding_drift_oracle),
    "bq_search": (q_bq_search, q_bq_search_oracle),
    "mutual_knn": (q_mutual_knn, q_mutual_knn_oracle),
}
