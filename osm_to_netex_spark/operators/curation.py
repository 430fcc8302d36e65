"""End-to-end training-corpus curation pipeline.

The composition a 100 TB pretraining-data pipeline actually runs, as ONE
declarative plan: quality gate → exact dedup → near-dup group removal →
deterministic split assignment.  Every stage is an existing oracle-gated
operator (textstats quality, dedup.exact_dedup, dedup.minhash_lsh_pairs,
dedup.connected_components, sampling.assign_split); this module wires them so
the whole pipeline is itself oracle-gated end-to-end — the composed DuckDB
SQL replays every stage and must agree on the final (doc_id, split) set.

Scale shape: one corpus scan feeds the quality filter; exact dedup is a
hash-key groupBy (text never shuffled); the LSH stages shuffle only
(doc_id, band, bucket) triples; connected components is the bounded
alternating-star loop; the split is a pure projection.  Nothing here is
new physics — the point is that the STAGES COMPOSE without materialization
barriers, which is what makes the pipeline one Spark job graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.portable import DUCK, SPARK
from ..functions import text as tx
from . import dedup, sampling
from .textstats import quality_score_expr


def curate_corpus(
    docs: DataFrame,
    quality_min: float = 0.35,
    n_shingle: int = 3,
    n_perm: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, split) for every document that survives curation."""
    kept = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")).where(
        F.expr(f"{quality_score_expr('text', SPARK)} >= {quality_min}")
    )
    classes = dedup.exact_dedup(kept)
    survivors = kept.join(
        classes.select(F.col("survivor_id").alias("doc_id")), "doc_id"
    )
    pairs = dedup.minhash_lsh_pairs(
        survivors,
        n_shingle=n_shingle,
        n_perm=n_perm,
        bands=bands,
        jaccard_threshold=jaccard_threshold,
    )
    comp = dedup.connected_components(pairs)
    dedup.unpersist_intermediates(pairs)
    non_rep = comp.where("component <> doc_id").select("doc_id")
    final = survivors.join(non_rep, "doc_id", "left_anti")
    return sampling.assign_split(final).select("doc_id", "split")


def curate_corpus_oracle_sql(
    quality_min: float = 0.35,
    n_shingle: int = 3,
    n_perm: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.4,
    table: str = "documents",
) -> str:
    """DuckDB replay of every stage; final (doc_id, split) must agree."""
    rows = n_perm // bands
    q = quality_score_expr("text", DUCK)
    norm = dedup.normalize_expr("text", DUCK)
    bh = tx.shingle_base_hashes("text", n_shingle, DUCK)
    sig = tx.minhash_from_base("mh_base", n_perm, DUCK)
    jac = (
        "cast(len(list_intersect(sh_a, sh_b)) as double) / "
        "cast(len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b)) as double)"
    )
    split = sampling.split_expr("doc_id", sampling.DEFAULT_SPLITS, DUCK)
    return f"""
        with recursive kept as (
            select doc_id, text from {table} where {q} >= {quality_min}
        ),
        classes as (
            select min(doc_id) as doc_id from kept group by md5({norm})
        ),
        survivors as (select k.doc_id, k.text from kept k join classes c using (doc_id)),
        staged as (select doc_id, {bh} as mh_base from survivors),
        base as (
            select doc_id, {sig} as sig, list_distinct(mh_base) as shingles from staged
        ),
        banded as (
            select doc_id, shingles, b as band,
                   md5(array_to_string(list_slice(sig, b * {rows} + 1, b * {rows} + {rows}), ',')) as bucket
            from base, unnest(generate_series(0, {bands - 1})) t(b)
        ),
        cand as (
            select distinct a.doc_id as doc_a, b.doc_id as doc_b,
                   a.shingles as sh_a, b.shingles as sh_b
            from banded a join banded b using (band, bucket)
            where a.doc_id < b.doc_id
        ),
        pairs as (
            select doc_a, doc_b from cand where round({jac}, 6) >= {jaccard_threshold}
        ),
        edges as (
            select doc_a as a, doc_b as b from pairs
            union
            select doc_b as a, doc_a as b from pairs
        ),
        reach(v, l) as (
            select a, a from edges
            union
            select e.a, r.l from edges e join reach r on r.v = e.b
        ),
        comp as (select v as doc_id, min(l) as component from reach group by v),
        final as (
            select s.doc_id from survivors s left join comp using (doc_id)
            where comp.component is null or comp.component = s.doc_id
        )
        select doc_id, {split} as split from final
    """


# ---------------------------------------------------------------------------
# Column profiler — one-scan data-quality stats
# ---------------------------------------------------------------------------
def profile_sql(
    d: str,
    table: str,
    numeric_cols: list[str],
    string_cols: list[str],
) -> str:
    """Per-column profile rows (col, n_rows, n_null, n_distinct, min_num,
    max_num) — the ingest-gate stats a 100 TB pipeline checks before a
    table is promoted (nulls exploding? key cardinality collapsed?).

    ONE corpus scan: every aggregate folds in a single pass (the exact
    count(distinct)s expand the scan k-ways map-side — the standard plan —
    but never re-read the table); the 1×(6k) aggregate row is then
    unpivoted into k rows of 6.  String columns report min/max of the
    portable 60-bit content hash instead of lexicographic min/max (string
    ordering/formatting is not engine-portable; the hash extremes are a
    deterministic content fingerprint that moves when the value set
    drifts)."""
    from ..functions.portable import SPARK as _S, phash60

    aggs = []
    structs = []
    for c in numeric_cols + string_cols:
        if c in numeric_cols:
            val = f"cast({c} as double)"
        else:
            val = f"cast({phash60(c, d)} as double)"
        aggs += [
            f"count({c}) as nn_{c}",
            f"count(distinct {c}) as nd_{c}",
            f"min({val}) as mn_{c}",
            f"max({val}) as mx_{c}",
        ]
        fields = (
            f"'col', '{c}', 'n_rows', n_rows, 'n_null', n_rows - nn_{c}, "
            f"'n_distinct', nd_{c}, 'min_num', mn_{c}, 'max_num', mx_{c}"
            if d == _S
            else f"col := '{c}', n_rows := n_rows, n_null := n_rows - nn_{c}, "
            f"n_distinct := nd_{c}, min_num := mn_{c}, max_num := mx_{c}"
        )
        structs.append(
            f"named_struct({fields})" if d == _S else f"struct_pack({fields})"
        )
    cte = f"with a as (select count(*) as n_rows, {', '.join(aggs)} from {table}) "
    if d == _S:
        # inline() over the struct array: `a` is referenced exactly once, so
        # the scan is not re-inlined per output row (a UNION of per-column
        # selects would re-scan the corpus k times)
        return cte + f"select inline(array({', '.join(structs)})) from a"
    return (
        cte
        + f"select u.* from (select unnest([{', '.join(structs)}]) as u from a)"
    )


# ---------------------------------------------------------------------------
# k-anonymity generalization ladder (privacy audit before data release)
# ---------------------------------------------------------------------------
def kanon_ladder_sql(d: str, table: str = "customer", k: int = 5) -> str:
    """Minimal-generalization k-anonymity: for every row, the SMALLEST
    generalization level of the quasi-identifier (nation, account-balance
    band) whose equivalence class reaches ``k`` members — the decision a
    release pipeline makes per record before publishing micro-data.

    Ladder (level → QI): 0 = (nation, balance to 1), 1 = (nation, balance
    to 100), 2 = (nation, balance to 1000), 3 = nation only; level 4 marks
    rows not k-anonymous even under full suppression of the balance.
    Balance bands use floor(x / width) on doubles — floor() is engine-
    portable where integer ``div`` vs ``//`` is not (negative balances).

    Scale: four map-side-combined groupBys over the QI (each dimension-
    sized), joined back by their keys — the corpus-sized table crosses the
    shuffle once per level with partial aggregation; no window, no
    cross join.  Output is pure integers."""
    b0 = "cast(floor(c_acctbal) as bigint)"
    b1 = "cast(floor(c_acctbal / 100.0e0) as bigint)"
    b2 = "cast(floor(c_acctbal / 1000.0e0) as bigint)"
    return f"""
        with q as (
            select c_custkey, c_nationkey,
                   {b0} as g0, {b1} as g1, {b2} as g2
            from {table}
        ),
        s0 as (select c_nationkey, g0, count(*) as n from q group by 1, 2),
        s1 as (select c_nationkey, g1, count(*) as n from q group by 1, 2),
        s2 as (select c_nationkey, g2, count(*) as n from q group by 1, 2),
        s3 as (select c_nationkey, count(*) as n from q group by 1)
        select q.c_custkey,
               cast(case when s0.n >= {k} then 0
                         when s1.n >= {k} then 1
                         when s2.n >= {k} then 2
                         when s3.n >= {k} then 3
                         else 4 end as int) as anon_level,
               cast(case when s0.n >= {k} then s0.n
                         when s1.n >= {k} then s1.n
                         when s2.n >= {k} then s2.n
                         when s3.n >= {k} then s3.n
                         else s3.n end as bigint) as class_size
        from q
        join s0 on s0.c_nationkey = q.c_nationkey and s0.g0 = q.g0
        join s1 on s1.c_nationkey = q.c_nationkey and s1.g1 = q.g1
        join s2 on s2.c_nationkey = q.c_nationkey and s2.g2 = q.g2
        join s3 on s3.c_nationkey = q.c_nationkey"""
