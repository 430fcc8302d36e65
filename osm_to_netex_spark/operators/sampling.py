"""Deterministic corpus splitting & stratified sampling (training-data ops).

A training pipeline needs reproducible, cluster-size-independent ways to
(a) carve a corpus into train/val/test and (b) downsample per stratum
(language, source, quality band).  Both are pure per-row projections over
the portable hash (functions.portable.prand) — no shuffle, no RNG state,
no dependence on partitioning or row order, and the DuckDB oracle
reproduces every assignment bit-for-bit.

Reference parity: the reference has no sampling surface (it converts whole
files); these exist for the 10^12-doc training-data tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.portable import SPARK, concat_str, flit, prand

DEFAULT_SPLITS: tuple[tuple[str, float], ...] = (
    ("train", 0.9),
    ("val", 0.05),
    ("test", 0.05),
)


def split_expr(
    id_col: str,
    splits: tuple[tuple[str, float], ...] = DEFAULT_SPLITS,
    d: str = SPARK,
    salt: str = "split",
) -> str:
    """CASE expression assigning a split name from the hash fraction of the
    id — same string in either dialect.  Ranges are cumulative in the order
    given; weights must sum to 1 (the last split absorbs rounding)."""
    total = sum(w for _, w in splits)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    u = prand(concat_str([f"'{salt}:'", id_col], d), d)
    branches, acc = [], 0.0
    for name, w in splits[:-1]:
        acc += w
        branches.append(f"WHEN {u} < {flit(acc)} THEN '{name}'")
    return f"(CASE {' '.join(branches)} ELSE '{splits[-1][0]}' END)"


def assign_split(
    docs: DataFrame,
    id_col: str = "doc_id",
    splits: tuple[tuple[str, float], ...] = DEFAULT_SPLITS,
) -> DataFrame:
    """Add a `split` column — pure projection, stable under repartitioning."""
    return docs.withColumn("split", F.expr(split_expr(id_col, splits, SPARK)))


def stratified_sample(
    docs: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Keep a per-stratum deterministic fraction of rows.

    `fractions` maps stratum value → keep fraction; strata not listed keep
    `default_fraction`.  One projection + filter — the stratum map rides
    the plan as a literal CASE, so there is no join and no shuffle (unlike
    df.stat.sampleBy, this is reproducible across cluster sizes AND
    expressible to the SQL oracle)."""
    u = F.expr(prand(concat_str(["'samp:'", id_col], SPARK), SPARK))
    frac = F.lit(default_fraction)
    for value, f in sorted(fractions.items()):
        frac = F.when(F.col(strata_col) == value, F.lit(f)).otherwise(frac)
    return docs.where(u < frac)


def es_key_expr(id_col: str, weight_col: str, d: str = SPARK, salt: str = "wres") -> str:
    """Efraimidis-Spirakis weighted-reservoir key: ln(u)/w with u the
    portable hash fraction of the id (u in (0,1]: hash+1 over 2^60) and
    w >= 1.  Selecting the top-k rows by this key draws a weighted sample
    without replacement — P(row first) = w_i/Σw, exactly the reservoir
    semantics — yet is fully deterministic: no RNG state, stable under
    repartitioning and cluster size.

    ln is the single transcendental (correctly rounded in both engines'
    libm for these magnitudes); the key itself is never emitted, only the
    membership/rank it induces, and key ties are measure-zero under the
    60-bit hash."""
    from ..functions.portable import phash60

    h = phash60(concat_str([f"'{salt}:'", id_col], d), d)
    u = f"((({h}) + 1.0e0) / {flit(float(2**60))})"
    w = f"greatest(cast({weight_col} as double), 1.0e0)"
    return f"(ln({u}) / {w})"


def weighted_sample(
    docs: DataFrame,
    k: int,
    id_col: str = "doc_id",
    weight_col: str = "n_chars",
    stratum_col: str | None = None,
) -> DataFrame:
    """Top-k weighted sample (per stratum if given): (id, [stratum], rank).

    One window shuffle on the stratum key; with no stratum the global top-k
    plans as TakeOrderedAndProject (per-partition top-k + driver merge), so
    the full corpus is never sorted."""
    key = F.expr(es_key_expr(id_col, weight_col, SPARK))
    if stratum_col is None:
        out = (
            docs.select(F.col(id_col), key.alias("__k"))
            .orderBy(F.desc("__k"), F.col(id_col))
            .limit(k)
        )
        from pyspark.sql import Window

        w = Window.orderBy(F.desc("__k"), F.col(id_col))
        return out.select(
            F.col(id_col), F.row_number().over(w).alias("rank")
        )
    from pyspark.sql import Window

    w = Window.partitionBy(stratum_col).orderBy(F.desc("__k"), F.col(id_col))
    return (
        docs.select(F.col(id_col), F.col(stratum_col), key.alias("__k"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .drop("__k")
    )


# ---------------------------------------------------------------------------
# DSIR importance weights (data selection via importance resampling)
# ---------------------------------------------------------------------------
_DSIR_Q = 1_000_000_000  # log-ratio quantization: 1e-9 units (classify.py Q)


def _dsir_feats(text_col: str, d: str) -> str:
    """Hashed n-gram feature bag: word unigrams + bigrams (the DSIR paper's
    feature space), as one array of gram strings."""
    from ..functions import text as tx

    u = tx.word_shingles(text_col, 1, d)
    b = tx.word_shingles(text_col, 2, d)
    return f"concat({u}, {b})" if d == SPARK else f"list_concat({u}, {b})"


def dsir_weights(
    docs: DataFrame,
    target_pred: str,
    n_buckets: int = 256,
    alpha: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for Language
    Models via Importance Resampling") — (doc_id, n_feats, score_q, avg_lr):
    per doc, the log importance ratio log p_target(x)/p_raw(x) under hashed
    n-gram bag-of-features models of a TARGET slice (rows satisfying
    ``target_pred``, e.g. a trusted domain) vs the RAW corpus.  Select by
    top weight (or Gumbel-resample on it) to shift a 10^12-doc corpus toward
    the target distribution.

    Exactness: bucket log-probs use add-α smoothing and are quantized to
    bigint 1e-9 units at the model (``floor(ln(p)·1e9)``, the classify.py
    discipline), so each doc's score is an exact integer fold over feature
    occurrences — associative, partition-invariant, oracle-gateable.

    Scale shape: features explode once per doc into (doc, bucket, tf); the
    model is 2×``n_buckets`` smoothed counts — a broadcast dimension built
    by two map-side-combined aggregates (the target side filters BEFORE the
    explode).  The corpus shuffles only on doc_id.  Docs with no tokens get
    n_feats = 0, score 0, null avg.
    """
    from ..functions.portable import phash60

    B, Q = int(n_buckets), _DSIR_Q
    feats = _dsir_feats(text_col, SPARK)
    occ = docs.selectExpr(
        f"{id_col} as doc_id",
        f"case when {target_pred} then 1 else 0 end as is_target",
        f"explode({feats}) as gram",
    ).selectExpr("doc_id", "is_target", f"pmod({phash60('gram', SPARK)}, {B}) as b")
    tf = occ.groupBy("doc_id", "b").agg(
        F.count("*").alias("tf"), F.first("is_target").alias("is_target")
    )
    bcnt = tf.groupBy("b").agg(
        F.sum(F.expr("case when is_target = 1 then tf else 0 end")).alias("ct"),
        F.sum("tf").alias("cr"),
    )
    # densify to all B buckets and quantize the two smoothed log-probs
    lnq = f"cast(floor(ln((cnt + {alpha!r}e0) / (tot + {alpha!r}e0 * {B})) * {Q}) as bigint)"
    model = (
        docs.sparkSession.range(B)
        .selectExpr("cast(id as int) as b")
        .join(F.broadcast(bcnt), "b", "left")
        .crossJoin(
            F.broadcast(
                bcnt.agg(
                    F.sum("ct").alias("nt"), F.sum("cr").alias("nr")
                )
            )
        )
        .selectExpr(
            "b",
            lnq.replace("cnt", "coalesce(ct, 0)").replace("tot", "coalesce(nt, 0)")
            + " - ("
            + lnq.replace("cnt", "coalesce(cr, 0)").replace("tot", "coalesce(nr, 0)")
            + ") as lr_q",
        )
    )
    scored = (
        tf.join(F.broadcast(model), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_feats"),
            F.sum(F.expr("tf * lr_q")).alias("score_q"),
        )
    )
    base = docs.selectExpr(f"{id_col} as doc_id")
    return base.join(scored, "doc_id", "left").selectExpr(
        "doc_id",
        "cast(coalesce(n_feats, 0) as bigint) as n_feats",
        "cast(coalesce(score_q, 0) as bigint) as score_q",
        f"round(cast(score_q as double) / (cast(n_feats as double) * {Q}.0e0), 9) as avg_lr",
    )


def dsir_weights_oracle_sql(
    target_pred: str,
    n_buckets: int = 256,
    alpha: float = 1.0,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB replay: same hashes, same smoothing, same quantized fold."""
    from ..functions.portable import DUCK, phash60

    B, Q = int(n_buckets), _DSIR_Q
    feats = _dsir_feats(text_col, DUCK)
    lnq = (
        f"cast(floor(ln((cnt + {alpha!r}e0) / (tot + {alpha!r}e0 * {B})) * {Q}) as bigint)"
    )
    lt = lnq.replace("cnt", "coalesce(ct, 0)").replace("tot", "coalesce(nt, 0)")
    lr = lnq.replace("cnt", "coalesce(cr, 0)").replace("tot", "coalesce(nr, 0)")
    return f"""
        with occ0 as (
            select {id_col} as doc_id,
                   case when {target_pred} then 1 else 0 end as is_target,
                   unnest({feats}) as gram
            from {table}
        ),
        occ as (select doc_id, is_target, {phash60('gram', DUCK)} % {B} as b
                from occ0),
        tf as (select doc_id, b, count(*) as tf, any_value(is_target) as is_target
               from occ group by doc_id, b),
        bcnt as (select b,
                        sum(case when is_target = 1 then tf else 0 end) as ct,
                        sum(tf) as cr
                 from tf group by b),
        gl as (select sum(ct) as nt, sum(cr) as nr from bcnt),
        model as (
            select t.b, ({lt}) - ({lr}) as lr_q
            from unnest(generate_series(0, {B - 1})) t(b)
            left join bcnt on bcnt.b = t.b
            cross join gl
        ),
        scored as (
            select f.doc_id, sum(f.tf) as n_feats, sum(f.tf * m.lr_q) as score_q
            from tf f join model m on m.b = f.b
            group by f.doc_id
        )
        select d.{id_col} as doc_id,
               cast(coalesce(s.n_feats, 0) as bigint) as n_feats,
               cast(coalesce(s.score_q, 0) as bigint) as score_q,
               round(cast(s.score_q as double) / (cast(s.n_feats as double) * {Q}.0e0), 9) as avg_lr
        from {table} d left join scored s on s.doc_id = d.{id_col}"""


# ---------------------------------------------------------------------------
# Deterministic distributed corpus shuffle (training-order assignment)
# ---------------------------------------------------------------------------
def corpus_shuffle(
    docs: DataFrame,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    salt: str = "shuffle:v1",
) -> DataFrame:
    """(doc_id, bucket, global_pos): a deterministic global permutation of
    the corpus — the training-order shuffle every LLM data pipeline needs,
    reproducible across reruns, cluster sizes, and partitionings (no RNG
    state, no zipWithIndex nondeterminism).

    Shape: a GLOBAL row_number would force one partition — instead the
    permutation is (hash-bucket, within-bucket rank): each doc gets a
    portable-hash bucket, ranks within its bucket by (key, doc_id) — B
    independent window partitions — and the global position adds the
    exclusive prefix sum of bucket sizes (a B-row broadcast).  The order is
    exactly "sort all docs by (bucket, key, doc_id)" without ever sorting
    globally.
    """
    from pyspark.sql import Window

    from ..functions.portable import phash60

    B = int(n_buckets)
    key = phash60(f"concat('{salt}:', {id_col})", SPARK)
    staged = docs.selectExpr(
        f"{id_col} as doc_id", f"{key} as __k"
    ).selectExpr("doc_id", "__k", f"pmod(__k, {B}) as bucket")
    ranked = staged.withColumn(
        "__r",
        F.row_number().over(
            Window.partitionBy("bucket").orderBy("__k", "doc_id")
        ),
    )
    sizes = staged.groupBy("bucket").count()
    offsets = sizes.withColumn(
        "__off",
        F.sum("count").over(
            Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
        ),
    ).selectExpr("bucket", "coalesce(__off, 0) as __off")
    return (
        ranked.join(F.broadcast(offsets), "bucket")
        .selectExpr(
            "doc_id",
            "cast(bucket as bigint) as bucket",
            "cast(__off + __r - 1 as bigint) as global_pos",
        )
    )


def corpus_shuffle_oracle_sql(
    n_buckets: int = 64,
    table: str = "documents",
    id_col: str = "doc_id",
    salt: str = "shuffle:v1",
) -> str:
    """DuckDB replay: the permutation IS "order by (bucket, key, id)" — the
    oracle states that directly, proving the bucket-offset construction."""
    from ..functions.portable import DUCK, phash60

    B = int(n_buckets)
    key = phash60(f"concat('{salt}:', {id_col})", DUCK)
    return f"""
        with staged as (
            select {id_col} as doc_id, {key} as k, {key} % {B} as bucket
            from {table}
        )
        select doc_id, cast(bucket as bigint) as bucket,
               cast(row_number() over (order by bucket, k, doc_id) - 1 as bigint)
               as global_pos
        from staged"""


# ---------------------------------------------------------------------------
# Temperature-scaled source mixing (training-mixture curriculum)
# ---------------------------------------------------------------------------
def _temp_mix_sql(
    d: str,
    temperature: float,
    target_frac: float,
    table: str = "documents",
    source_col: str = "source",
    id_col: str = "doc_id",
) -> str:
    """Shared dual-dialect SQL for temperature mixing.

    Mixture weight per source: w_s = c_s^(1/T) — T=1 keeps natural
    proportions, T→∞ flattens to uniform (the multilingual-training
    rebalancing rule, e.g. mC4/XLM-R).  Per-source keep rate
    r_s = min(1, target_frac·N·w_s / (Σw · c_s)); a doc survives iff its
    60-bit hash fraction u(id) < r_s.

    Exactness: T=2 is computed as sqrt(c) — IEEE-correctly-rounded in both
    engines, so rates are bit-identical; other T use pow() (documented
    last-ulp risk at the accept boundary, measure-zero under the 60-bit u).
    The rate table is one tiny agg joined back broadcast; the corpus never
    shuffles."""
    if temperature == 2.0:
        w = "sqrt(cast(c as double))"
    elif temperature == 1.0:
        w = "cast(c as double)"
    else:
        w = f"power(cast(c as double), {flit(1.0 / temperature)})"
    u = prand(concat_str(["'mix:'", id_col], d), d)
    return f"""
        with __src as (
            select {source_col} as src, count(*) as c from {table}
            group by {source_col}
        ),
        __tot as (
            select sum(c) as n, sum({w}) as sumw from __src
        ),
        __rates as (
            select src,
                   least(1.0e0, {flit(target_frac)} * cast(n as double) * ({w})
                         / (sumw * cast(c as double))) as rate
            from __src cross join __tot
        )
        select t.{id_col} as {id_col}, t.{source_col} as source
        from {table} t join __rates r on t.{source_col} = r.src
        where ({u}) < r.rate
    """


def temperature_mix(
    spark,
    temperature: float = 2.0,
    target_frac: float = 0.5,
    table: str = "documents",
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic temperature-scaled mixture over a registered table
    (see _temp_mix_sql).  The rate dimension is a per-source aggregate that
    Spark broadcasts into the corpus scan — at 10^12 docs the corpus is
    touched twice (count, filter) and shuffled never; the id-hash acceptance
    makes the sample reproducible across cluster sizes."""
    return spark.sql(
        _temp_mix_sql(
            SPARK, temperature, target_frac,
            table=table, source_col=source_col, id_col=id_col,
        )
    )


# ---------------------------------------------------------------------------
# Rendezvous (HRW) sharding
# ---------------------------------------------------------------------------
def rendezvous_sql(
    d: str,
    shards: list[str],
    table: str = "documents",
    id_col: str = "doc_id",
) -> str:
    """Highest-random-weight (rendezvous) shard assignment: every row goes
    to argmax_s phash60(shard || ':' || id) — the consistent-hashing rule a
    10^12-doc incremental pipeline needs: adding a shard moves only
    ~1/(n+1) of the keys (each key moves iff the NEW shard wins its
    rendezvous), and removing one moves only that shard's keys.  No ring
    state, no coordination — the shard list is a plan literal.

    Deterministic integer hashes; argmax via greatest-of-structs (hash
    ties are impossible across distinct shard strings under md5).  One
    projection, zero shuffles."""
    from ..functions.portable import phash60

    structs = []
    for s in sorted(shards):
        h = phash60(concat_str([f"'{s}:'", id_col], d), d)
        if d == SPARK:
            structs.append(f"named_struct('h', {h}, 's', '{s}')")
        else:
            structs.append(f"struct_pack(h := {h}, s := '{s}')")
    arr = (
        f"array({', '.join(structs)})" if d == SPARK else f"[{', '.join(structs)}]"
    )
    if d == SPARK:
        pick = f"array_max({arr}).s"
    else:
        pick = f"list_max({arr}).s"
    return f"select {id_col} as {id_col}, {pick} as shard from {table}"


def rendezvous_assign(spark, shards: list[str], table: str = "documents",
                      id_col: str = "doc_id") -> DataFrame:
    """Engine entry for rendezvous_sql (see there)."""
    return spark.sql(rendezvous_sql(SPARK, shards, table=table, id_col=id_col))
