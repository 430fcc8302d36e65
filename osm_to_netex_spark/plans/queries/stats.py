"""Statistics and experimentation queries over the events, documents,
customer and embeddings tables: event analytics, sketches, hypothesis
tests, experiment analysis, time-series and forecasting, model features
and calibration, and privacy audits.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, functions as F

from ...functions import sketch, text as tx
from ...functions.portable import DUCK, SPARK, concat_str, element_at, phash60
from ...operators import curation, regression, temporal
from .corpus import register_geometry_views, sql_query


def _sessionize_sql(d: str) -> str:
    """Sessionization (30-min inactivity gap) — the classic training-data /
    clickstream operator: lag + cumulative sum over one per-user window
    partition, no self-join.  Ties broken by event_id for determinism."""
    # fractional epoch seconds: micros/1e6 in BOTH engines — bit-identical
    # doubles, immune to timestamp->string formatting differences and free of
    # any session-timezone dependence (ts is NTZ; timestampdiff is tz-free)
    ep = (
        (lambda c: f"(timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', {c}) / 1.0e6)")
        if d == SPARK
        else (lambda c: f"epoch({c})")
    )
    gap = f"{ep('ts')} - {ep('lag(ts) over w')}"
    return f"""
        with flagged as (
            select user_id, event_id, ts, value,
                   case when ({gap}) is null or ({gap}) > 1800 then 1 else 0 end as brk
            from events
            window w as (partition by user_id order by ts asc, event_id asc)
        ),
        sessioned as (
            select user_id, event_id, ts, value,
                   cast(sum(brk) over (partition by user_id order by ts asc, event_id asc
                                  rows between unbounded preceding and current row)
                        as bigint) as session_idx
            from flagged
        )
        select user_id, session_idx,
               count(*) as n_events,
               cast(sum(cast(floor(value * 1.0e6 + 0.5e0) as bigint)) as bigint)
                   as sum_value_q6,
               round({ep('min(ts)')}, 6) as session_start,
               round({ep('max(ts)')}, 6) as session_end
        from sessioned group by user_id, session_idx"""


def _rollup_events_sql(d: str) -> str:
    """Grouping-sets analytics: ROLLUP (event_type, day) with grand totals —
    partial aggregation handles every grouping set in one shuffle (Catalyst
    Expand + HashAggregate), no per-level re-scan."""
    day = "cast(date_trunc('day', ts) as date)"
    return f"""
        select coalesce(event_type, '<all>') as event_type,
               coalesce(cast({day} as string), '<all>') as day,
               count(*) as n_events,
               cast(sum(cast(floor(value * 1.0e6 + 0.5e0) as bigint)) as bigint)
                   as sum_value_q6,
               count(distinct user_id) as n_users
        from events
        group by rollup (event_type, {day})"""


def q_events_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group percentiles (p50/p90/p99 of value per event_type) —
    Spark's exact `percentile` and DuckDB's `quantile_cont` both use linear
    interpolation between closest ranks, so the values agree bit-for-bit
    after rounding."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        *[
            F.round(F.expr(f"percentile(value, {q})"), 6).alias(f"p{int(q * 100)}")
            for q in (0.5, 0.9, 0.99)
        ],
    )


def q_events_quantiles_oracle() -> str:
    qs = ", ".join(
        f"round(quantile_cont(value, {q}), 6) as p{int(q * 100)}"
        for q in (0.5, 0.9, 0.99)
    )
    return f"select event_type, count(*) as n, {qs} from events group by event_type"


def q_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed/sessionized analytics over the events stream table."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), F.col("event_type")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.expr("cast(floor(value * 1.0e6 + 0.5e0) as bigint)")).alias(
            "sum_value_q6"
        ),
        F.countDistinct("user_id").alias("n_users"),
    )


def q_events_window_oracle() -> str:
    return """
        select date_trunc('hour', ts) as hour, event_type,
               count(*) as n_events,
               cast(sum(cast(floor(value * 1.0e6 + 0.5e0) as bigint)) as bigint)
                   as sum_value_q6,
               count(distinct user_id) as n_users
        from events group by 1, 2"""


def _hll_distinct_sql(d: str) -> str:
    """Batch HLL distinct-users per event_type, next to the exact count.

    The Σ 2^-M_j harmonic sum is kept in INTEGERS (Σ 2^(53-M_j), ≤ 2^60)
    so it is order-free under any partitioning — float summation of the
    dyadic terms would round differently per accumulation order.  The only
    float op is the final division.

    Batch HLL sketch (m=256 registers as ROWS — one map-side-combined
    groupBy, mergeable by construction) beside the exact distinct count."""
    reg = sketch.hll_register("user_id", d)
    rho = sketch.hll_rho("user_id", d)
    term = (
        f"shiftleft(cast(1 as bigint), 53 - m)" if d == SPARK
        else f"(cast(1 as bigint) << (53 - m))"
    )
    numer = sketch.ALPHA_256 * sketch.M_REGISTERS * sketch.M_REGISTERS * float(2**53)
    return f"""
        with regs as (
            select event_type, {reg} as j, max({rho}) as m
            from events group by event_type, {reg}
        ),
        sums as (
            select event_type,
                   cast(count(*) as bigint) as n_hit,
                   sum({term}) as s_int
            from regs group by event_type
        ),
        exact as (
            select event_type, cast(count(distinct user_id) as bigint) as exact_distinct
            from events group by event_type
        )
        select s.event_type as event_type, s.n_hit as n_registers_hit,
               round({numer!r} / cast(s.s_int + ({sketch.M_REGISTERS} - s.n_hit) * cast({2**53} as bigint) as double), 6) as hll_estimate,
               e.exact_distinct as exact_distinct
        from sums s join exact e on s.event_type = e.event_type
    """


def _cms_sql(d: str) -> str:
    """Count-min-sketch frequency estimates beside exact counts, per user.

    Build: one shuffle — explode CMS_DEPTH hash rows per event, groupBy
    (row, bucket) count.  The register table is DEPTH×WIDTH rows (1024) no
    matter the corpus size, mergeable by addition, and integer end-to-end
    (bit-exact oracle).  Probe: distinct users join their DEPTH registers,
    estimate = min over rows (classic CMS overestimate bound).

    Count-min sketch (4×256 integer registers as rows) vs exact counts."""
    b = sketch.cms_bucket("user_id", "i", d)
    depths = (
        f"lateral view explode(sequence(0, {sketch.CMS_DEPTH - 1})) t as i"
        if d == SPARK
        else f"cross join unnest(generate_series(0, {sketch.CMS_DEPTH - 1})) t(i)"
    )
    return f"""
        with regs as (
            select i, {b} as bucket, cast(count(*) as bigint) as c
            from events {depths}
            group by i, {b}
        ),
        probes as (
            select user_id, i, {b} as bucket
            from (select distinct user_id from events) u {depths}
        ),
        est as (
            select p.user_id as user_id, min(r.c) as cms_est
            from probes p join regs r on p.i = r.i and p.bucket = r.bucket
            group by p.user_id
        ),
        exact as (
            select user_id, cast(count(*) as bigint) as exact_n
            from events group by user_id
        )
        select e.user_id as user_id, est.cms_est as cms_est, e.exact_n as exact_n
        from exact e join est on e.user_id = est.user_id
    """


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every click annotated with the user's most recent
    prior-or-equal view (merge form: union + one window, zero joins).  The
    oracle is DuckDB's native ASOF JOIN — an independent algorithm."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    views = ev.where(F.col("event_type") == "view").select("event_id", "user_id", "ts", "value")
    out = temporal.asof_join(
        clicks, views, keys=["user_id"], ts_col="ts",
        payload_cols=["event_id", "value"], right_order_cols=["event_id"],
    )
    # null-free projection: driver/oracle canonicalizers compare value
    # tuples where NaN != NaN, so left-outer misses use sentinels
    return out.selectExpr(
        "event_id", "user_id",
        "coalesce(asof_event_id, -1) as asof_event_id",
        "coalesce(asof_value, -1.0e0) as asof_value",
    )


def q_events_asof_oracle() -> str:
    return """
        select c.event_id, c.user_id,
               coalesce(v.event_id, -1) as asof_event_id,
               coalesce(v.value, -1.0e0) as asof_value
        from (select event_id, user_id, ts from events where event_type = 'click') c
        asof left join (select event_id, user_id, ts, value from events where event_type = 'view') v
          on c.user_id = v.user_id and c.ts >= v.ts
    """


def q_trend_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS value trend: exact integer sums (centered seconds ×
    half-up-quantized values), one shuffle, two float divisions at the end."""
    register_geometry_views(spark, sf_dir)
    return temporal.trend_fit(spark.table("events"))


def q_trend_fit_oracle() -> str:
    return temporal.trend_fit_oracle_sql()


def _hll_setops_sql(d: str) -> str:
    """HLL sketch SET ALGEBRA: union via per-register max (the property that
    makes HLL mergeable across partitions/days/tables without re-scanning),
    intersection via inclusion-exclusion — next to the exact answers.

    A = click users with value > 120, B = purchase users with value > 120
    (overlapping but distinct subsets).  Register sums stay integer
    (Σ 2^(53-M_j)) exactly as _hll_distinct_sql; merging sketches is a
    256-row full-outer max — constant cost no matter the corpus.

    HLL sketch union (register max merge) + inclusion-exclusion
    intersection, beside exact answers — bit-exact integer register sums."""
    reg = sketch.hll_register("user_id", d)
    rho = sketch.hll_rho("user_id", d)
    term = (
        "shiftleft(cast(1 as bigint), 53 - m)" if d == SPARK
        else "(cast(1 as bigint) << (53 - m))"
    )
    m_regs = sketch.M_REGISTERS
    numer = sketch.ALPHA_256 * m_regs * m_regs * float(2**53)
    est = (
        lambda s, n: f"({numer!r} / cast({s} + ({m_regs} - {n}) * cast({2**53} as bigint) as double))"
    )
    return f"""
        with a as (select distinct user_id from events
                   where event_type = 'click' and value > 120.0e0),
        b as (select distinct user_id from events
              where event_type = 'purchase' and value > 120.0e0),
        ra as (select {reg} as j, max({rho}) as m from a group by {reg}),
        rb as (select {reg} as j, max({rho}) as m from b group by {reg}),
        ru as (
            select coalesce(ra.j, rb.j) as j,
                   greatest(coalesce(ra.m, 0), coalesce(rb.m, 0)) as m
            from ra full outer join rb on ra.j = rb.j
        ),
        sa as (select sum({term}) as s, cast(count(*) as bigint) as n from ra),
        sb as (select sum({term}) as s, cast(count(*) as bigint) as n from rb),
        su as (select sum({term}) as s, cast(count(*) as bigint) as n from ru),
        ex as (
            select cast(count(*) as bigint) as exact_intersection
            from (select user_id from a) ia
            join (select user_id from b) ib using (user_id)
        ),
        exu as (
            select cast(count(distinct user_id) as bigint) as exact_union
            from (select user_id from a union all select user_id from b) u
        )
        select round({est('sa.s', 'sa.n')}, 6) as est_a,
               round({est('sb.s', 'sb.n')}, 6) as est_b,
               round({est('su.s', 'su.n')}, 6) as est_union,
               round({est('sa.s', 'sa.n')} + {est('sb.s', 'sb.n')}
                     - {est('su.s', 'su.n')}, 6) as est_intersection,
               ex.exact_intersection, exu.exact_union
        from sa, sb, su, ex, exu"""


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view→click→purchase per user: chained
    conditional-min aggregations, integer epoch micros throughout."""
    register_geometry_views(spark, sf_dir)
    return temporal.funnel(spark.table("events"), ["view", "click", "purchase"])


def q_funnel_oracle() -> str:
    return temporal.funnel_oracle_sql(["view", "click", "purchase"])


def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly grid resampling with linear interpolation per user: exact
    bucket means (integer sums), fixed-op-order interpolation."""
    register_geometry_views(spark, sf_dir)
    return temporal.gap_fill(spark.table("events"), bucket_s=3600)


def q_gap_fill_oracle() -> str:
    return temporal.gap_fill_oracle_sql(bucket_s=3600)


def _hist_quantiles_sql(d: str, width: float = 5.0, qs=(0.5, 0.9, 0.99)) -> str:
    """Mergeable histogram quantile sketch beside exact percentiles.

    The fourth sketch of the family (CMS=frequency, HLL=distinct,
    Bloom=membership, histogram=quantiles): per event_type, value counts in
    fixed ``width`` buckets — a table of (key, bucket, cnt) rows, mergeable
    by ADDITION like the others, constant-size per key no matter the corpus.
    Quantile estimate = bucket lower edge + linear interpolation within the
    bucket at rank q·n (integer cumsums; the interpolation is the only float
    arithmetic, fixed op order).  The exact percentile_cont runs beside it so
    the approximation error is visible in the gated output.

    Histogram quantile sketch (mergeable bucket-count rows) with exact
    percentile_cont beside the estimates."""
    yq = "cast(floor(value * 100.0e0 + 0.5e0) as bigint)"
    wq = int(round(width * 100))
    bkt = f"({yq} div {wq})" if d == SPARK else f"({yq} // {wq})"
    est_cols = []
    for q in qs:
        tag = str(q).replace("0.", "p")
        # rank in [0, n-1] at quantile q, half-up; compare against cumulative
        # counts to find the owning bucket, interpolate inside it
        est_cols.append(
            f"""max(case when cum_hi > rank_{tag} and cum_lo <= rank_{tag} then
                round((bucket * {wq} + {wq}.0e0 *
                       (cast(rank_{tag} - cum_lo as double) / cast(cnt as double)))
                      / 100.0e0, 9) end) as est_{tag}"""
        )
        # declared per-row below
    ranks = ", ".join(
        f"cast(floor({q!r}e0 * cast(n - 1 as double) + 0.5e0) as bigint) as rank_{str(q).replace('0.', 'p')}"
        for q in qs
    )
    exact = ", ".join(
        f"round(quantile_cont(value, {q!r}e0), 9) as exact_{str(q).replace('0.', 'p')}"
        if d == DUCK
        else f"round(percentile(value, {q!r}e0), 9) as exact_{str(q).replace('0.', 'p')}"
        for q in qs
    )
    win = "partition by event_type order by bucket rows between unbounded preceding and current row"
    return f"""
        with hist as (
            select event_type, {bkt} as bucket,
                   cast(count(*) as bigint) as cnt
            from events group by event_type, {bkt}
        ),
        cum as (
            select event_type, bucket, cnt,
                   sum(cnt) over ({win}) as cum_hi,
                   sum(cnt) over ({win}) - cnt as cum_lo
            from hist
        ),
        tot as (select event_type, sum(cnt) as n from hist group by event_type),
        ranked as (
            select c.*, t.n, {ranks}
            from cum c join tot t on c.event_type = t.event_type
        ),
        ests as (
            select event_type, max(n) as n, {', '.join(est_cols)}
            from ranked group by event_type
        ),
        ex as (select event_type, {exact} from events group by event_type)
        select e.event_type, cast(e.n as bigint) as n,
               {', '.join('e.est_' + str(q).replace('0.', 'p') for q in qs)},
               {', '.join('x.exact_' + str(q).replace('0.', 'p') for q in qs)}
        from ests e join ex x on e.event_type = x.event_type"""


def _anomaly_sql(d: str, z_thresh: float = 3.0) -> str:
    """Z-score outlier detection per event_type — exact integer moment sums.

    Σy and Σy² over half-up-quantized values are order-free bigint folds
    (map-side combinable; |Σy²| < 2^63 to ~10^9 rows/type at this value
    range — quantization scale is the knob beyond that); mean and sample
    std are two deterministic float ops on them, z a fixed op sequence.
    Shape: one partial-agg pass for the 5-row stats table, broadcast back
    into a second scan — both scans parallel, no wide shuffle.

    3-sigma outlier events per type: exact integer moments, broadcast
    stats join, both passes scan-parallel."""
    yq = "cast(floor(value * 100.0e0 + 0.5e0) as bigint)"
    return f"""
        with s as (
            select event_type, cast(count(*) as bigint) as n,
                   sum({yq}) as sy, sum({yq} * {yq}) as syy
            from events group by event_type
        ),
        st as (
            select event_type, n,
                   (cast(sy as double) / cast(n as double)) as mean_q,
                   sqrt(cast(n * syy - sy * sy as double)
                        / (cast(n as double) * cast(n - 1 as double))) as std_q
            from s
        )
        select e.event_id, e.event_type, e.value,
               round(({yq} - st.mean_q) / st.std_q, 6) as z
        from events e join st on e.event_type = st.event_type
        where abs(({yq} - st.mean_q) / st.std_q) > {z_thresh!r}e0"""


def _robust_anomaly_sql(d: str) -> str:
    """Median/MAD (robust z-score) outlier detection per event type — the
    Iglewicz-Hoaglin modified z with the 0.6745 consistency constant and the
    3.5 flag threshold; immune to the outliers themselves (unlike the
    3-sigma `anomaly` query, whose mean/stddev the outliers drag).

    Exactness: values quantized to bigint 1e-6 first; both engines
    interpolate percentiles identically over the integer domain (the
    events_quantiles discipline), and the median/MAD are re-quantized
    half-up before the z computation so the only float ops are one fixed
    multiply/divide sequence on integer-derived doubles.

    Scale: two per-type exact percentiles (type-keyed shuffles over the
    quantized column) + one broadcast-sized stats join back; flags are a
    scan-parallel projection.

    Median/MAD robust outlier detection."""
    pct = (
        (lambda x, p: f"percentile({x}, {p})")
        if d == SPARK
        else (lambda x, p: f"quantile_cont({x}, {p})")
    )
    zq = (
        "cast(floor(0.6745e0 * cast(xq - medq as double)"
        " / cast(madq as double) * 1.0e9 + 0.5e0) as bigint)"
    )
    return f"""
        with q as (
            select event_type, event_id,
                   cast(floor(value * 1.0e6 + 0.5e0) as bigint) as xq
            from events
        ),
        med as (
            select event_type,
                   cast(floor({pct('xq', '0.5e0')} + 0.5e0) as bigint) as medq
            from q group by event_type
        ),
        dev as (
            select q.event_type, q.event_id, q.xq, med.medq,
                   abs(q.xq - med.medq) as adev
            from q join med using (event_type)
        ),
        mad as (
            select event_type,
                   cast(floor({pct('adev', '0.5e0')} + 0.5e0) as bigint) as madq
            from dev group by event_type
        )
        select dev.event_type, dev.event_id, dev.xq, dev.medq, mad.madq,
               {zq} as robust_z_q9,
               abs({zq}) > 3500000000 as outlier
        from dev join mad using (event_type)
        where mad.madq > 0"""


def _ab_test_sql(d: str) -> str:
    """Two-sample A/B analysis per event_type: users hash-split into arms
    (the deterministic assignment an experimentation platform uses), Welch
    z on the 1e-6-quantized outcome — exact integer moments (n, Σx, Σx²)
    per arm, then ONE fixed float sequence for the z, quantized to 1e-9 so
    the significance flag is a stable integer compare.  Σx² is summed as
    decimal(38, 0): at sf0.1 it passes int64.

    Scale: one scan + one (type, arm) map-side-combined aggregate; the
    pivot to arm columns is a 2-row-per-type self-join on the dimension."""
    arm_key = concat_str(["'ab:'", "cast(user_id as string)"], d)
    arm = f"({phash60(arm_key, d)}) % 2"
    xq = "cast(floor(value * 1.0e6 + 0.5e0) as bigint)"
    mean = "(cast(sx as double) / cast(n as double))"
    var = (
        "((cast(sxx as double) - cast(sx as double) * cast(sx as double)"
        " / cast(n as double)) / cast(n - 1 as double))"
    )
    z = (
        "((a.mean_x - b.mean_x) / sqrt(a.var_x / cast(a.n as double)"
        " + b.var_x / cast(b.n as double)))"
    )
    zq = f"cast(floor({z} * 1.0e9 + 0.5e0) as bigint)"
    return f"""
        with q as (
            select event_type, {arm} as arm, {xq} as xq from events
        ),
        s as (
            select event_type, arm,
                   cast(count(*) as bigint) as n,
                   cast(sum(xq) as bigint) as sx,
                   cast(sum(cast(xq as decimal(38, 0)) * xq) as decimal(38, 0)) as sxx
            from q group by event_type, arm
        ),
        m as (
            select event_type, arm, n, {mean} as mean_x, {var} as var_x
            from s
        )
        select a.event_type,
               a.n as n_a, b.n as n_b,
               round(a.mean_x / 1.0e6, 9) as mean_a,
               round(b.mean_x / 1.0e6, 9) as mean_b,
               {zq} as welch_z_q9,
               abs({zq}) > 1959963985 as significant
        from m a join m b on a.event_type = b.event_type
        where a.arm = 0 and b.arm = 1"""


def _target_encode_sql(d: str, m: float = 10.0) -> str:
    """Smoothed target (mean) encoding of a categorical column — the
    leakage-resistant categorical feature every tabular/ranking pipeline
    ships: enc(cat) = (Σy_cat + m·prior) / (n_cat + m) with the global
    mean as prior (m = pseudo-count).  Integer target sums; one fixed
    float sequence per category quantized to 1e-9.

    Scale: one dimension-sized groupBy + the 1-row global prior broadcast;
    the per-row join-back is by category (broadcast at any real
    cardinality)."""
    return f"""
        with g as (
            select cast(sum(n_chars) as bigint) as sy,
                   cast(count(*) as bigint) as n
            from documents
        ),
        c as (
            select source,
                   cast(sum(n_chars) as bigint) as sy,
                   cast(count(*) as bigint) as n
            from documents group by source
        ),
        enc as (
            select c.source,
                   c.n as n_cat,
                   cast(floor((cast(c.sy as double)
                        + {m!r}e0 * (cast(g.sy as double) / cast(g.n as double)))
                        / (cast(c.n as double) + {m!r}e0)
                        * 1.0e9 + 0.5e0) as bigint) as enc_q9
            from c cross join g
        )
        select d.doc_id, d.source, e.n_cat, e.enc_q9
        from documents d join enc e on e.source = d.source"""


def _winsorize_sql(d: str, lo: float = 0.05, hi: float = 0.95) -> str:
    """Winsorized [0,1] scaling per event_type: clip at the exact p05/p95
    (linear-interpolated percentiles — the same cross-engine-deterministic
    primitive events_quantiles gates) then rescale.  The feature-
    normalization step of a training pipeline, robust to the tail outliers
    the anomaly query flags.  Shape: one percentile agg (5-row stats table)
    broadcast into a second scan — no wide shuffle.

    Robust per-type feature scaling: winsorize at p05/p95, rescale to
    [0,1]; stats broadcast, both passes scan-parallel."""
    pc = (
        (lambda q: f"percentile(value, {q!r}e0)")
        if d == SPARK
        else (lambda q: f"quantile_cont(value, {q!r}e0)")
    )
    return f"""
        with st as (
            select event_type, {pc(lo)} as p_lo, {pc(hi)} as p_hi
            from events group by event_type
        )
        select e.event_id, e.event_type,
               round((least(greatest(e.value, st.p_lo), st.p_hi) - st.p_lo)
                     / (st.p_hi - st.p_lo), 9) as scaled
        from events e join st on e.event_type = st.event_type"""


def _incremental_rollup_sql(d: str) -> str:
    """Incremental materialized-view maintenance: partition the corpus into
    BASE (first half of time) and DELTA (rest), roll each up independently,
    MERGE the partials, and emit the merged stats next to a direct full
    recompute — count/sum by addition, min/max by min/max, HLL distinct
    registers by register-max.  Every pair of columns must agree, and the
    oracle value-gates that equality.

    This is the algebra that lets a 100 TB pipeline ingest a day at a time
    and never rescan history: all the engine's sketches (HLL/CMS/Bloom/
    histogram) were built as mergeable ROW tables precisely so this merge is
    a groupBy, not a recompute.

    Base+delta partial-rollup merge vs direct full recompute — the
    mergeable-aggregate algebra, value-gated."""
    reg = sketch.hll_register("user_id", d)
    rho = sketch.hll_rho("user_id", d)
    yq = "cast(floor(value * 100.0e0 + 0.5e0) as bigint)"
    term = (
        "shiftleft(cast(1 as bigint), 53 - m)" if d == SPARK
        else "(cast(1 as bigint) << (53 - m))"
    )
    m_regs = sketch.M_REGISTERS
    numer = sketch.ALPHA_256 * m_regs * m_regs * float(2**53)
    est = f"round({numer!r} / cast(s + ({m_regs} - nh) * cast({2**53} as bigint) as double), 6)"
    cut = "timestamp '2024-01-04 00:00:00'" if d == DUCK else "timestamp_ntz'2024-01-04 00:00:00'"

    def rollup(pred: str, tag: str) -> str:
        return f"""
        {tag}_stats as (
            select event_type, cast(count(*) as bigint) as n, sum({yq}) as sm,
                   min({yq}) as mn, max({yq}) as mx
            from events where {pred} group by event_type
        ),
        {tag}_regs as (
            select event_type, {reg} as j, max({rho}) as m
            from events where {pred} group by event_type, {reg}
        )"""

    return f"""
        with {rollup(f'ts < {cut}', 'base')},
        {rollup(f'ts >= {cut}', 'delta')},
        merged_stats as (
            select event_type, sum(n) as n, sum(sm) as sm, min(mn) as mn, max(mx) as mx
            from (select * from base_stats union all select * from delta_stats) u
            group by event_type
        ),
        merged_regs as (
            select event_type, j, max(m) as m
            from (select * from base_regs union all select * from delta_regs) u
            group by event_type, j
        ),
        merged_hll as (
            select event_type, sum({term}) as s, cast(count(*) as bigint) as nh
            from merged_regs group by event_type
        ),
        full_stats as (
            select event_type, cast(count(*) as bigint) as n, sum({yq}) as sm,
                   min({yq}) as mn, max({yq}) as mx
            from events group by event_type
        ),
        full_regs as (
            select event_type, {reg} as j, max({rho}) as m
            from events group by event_type, {reg}
        ),
        full_hll as (
            select event_type, sum({term}) as s, cast(count(*) as bigint) as nh
            from full_regs group by event_type
        )
        select m.event_type,
               cast(m.n as bigint) as n_merged, cast(f.n as bigint) as n_full,
               cast(m.sm as bigint) as sum_merged, cast(f.sm as bigint) as sum_full,
               cast(m.mn as bigint) as min_merged, cast(f.mx as bigint) as max_full,
               (select {est} from merged_hll h where h.event_type = m.event_type) as hll_merged,
               (select {est} from full_hll h where h.event_type = m.event_type) as hll_full
        from merged_stats m join full_stats f on m.event_type = f.event_type"""


def _eqfreq_bins_sql(d: str, k: int = 8) -> str:
    """Equal-frequency discretization (quantile binning) per event_type:
    bucket = floor((rank-1)·k / n) over (value, event_id) order — an
    unambiguous total order and an explicit floor (Spark casts truncate,
    DuckDB casts round — floor() is the portable spelling), so bucket
    boundaries are deterministic even with duplicate values.  The feature-bucketization
    primitive (monotone-binned features for GBDTs etc.).

    Equal-frequency value binning per event_type (k=8), deterministic
    total order."""
    return f"""
        with ranked as (
            select event_id, event_type, value,
                   row_number() over (partition by event_type
                                      order by value, event_id) as rn,
                   count(*) over (partition by event_type) as n
            from events
        )
        select event_id, event_type, value,
               cast(floor((rn - 1) * {k} / n) as bigint) as bucket
        from ranked"""


def _cohort_sql(d: str) -> str:
    """Weekly cohort retention: users grouped by first-activity week, counted
    per subsequent activity week — the product-analytics retention matrix.
    Integer week arithmetic (epoch-day div 7) keeps everything exact.

    Weekly cohort retention matrix (cohort week × offset week × users)."""
    if d == SPARK:
        wk = "cast(datediff(cast(ts as date), date'1970-01-01') div 7 as bigint)"
    else:
        wk = "cast(date_diff('day', date '1970-01-01', cast(ts as date)) // 7 as bigint)"
    return f"""
        with w as (select user_id, {wk} as week from events),
        first_w as (select user_id, min(week) as cohort from w group by user_id),
        activity as (select distinct w.user_id, f.cohort, w.week - f.cohort as offset_w
                     from w join first_w f on w.user_id = f.user_id)
        select cohort, offset_w, cast(count(*) as bigint) as n_users
        from activity group by cohort, offset_w"""


def _transitions_sql(d: str) -> str:
    """Event-type transition counts (first-order Markov statistics): for
    each user's ts-ordered event stream, count (prev_type → type) bigrams.
    Deterministic order: (ts, event_id) is a total order.  One window on the
    user key + one map-side-combined count.

    First-order event-type transition matrix per the user timeline."""
    return """
        with seq as (
            select user_id, event_type,
                   lag(event_type) over (partition by user_id
                                         order by ts, event_id) as prev_type
            from events
        )
        select prev_type, event_type as next_type,
               cast(count(*) as bigint) as n
        from seq where prev_type is not null
        group by prev_type, event_type"""


# ---------------------------------------------------------------------------
# overlapping-interval dissolve
# ---------------------------------------------------------------------------
def q_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validity-window consolidation: events become [t, t+dur] intervals in
    integer micros, merged per user when overlapping/touching — one shuffle,
    two frames over one per-key sort (temporal.interval_merge)."""
    register_geometry_views(spark, sf_dir)
    return temporal.interval_merge(spark.table("events"))


def q_interval_merge_oracle() -> str:
    return temporal.interval_merge_oracle_sql()


# ---------------------------------------------------------------------------
# rolling time-range window stats
# ---------------------------------------------------------------------------
def _rolling_stats_sql(d: str) -> str:
    """Trailing-1-hour per-user rolling stats at every event (RANGE frame on
    integer epoch micros): count, exact integer sum, min/max.  The RANGE
    frame is resolved per partition after one keyed sort — a single shuffle
    on user_id; values quantized to bigint 1e-6 units so the sliding-sum
    accumulation is order-free and bit-exact in both engines."""
    us = (
        "cast(timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', ts) as bigint)"
        if d == SPARK
        else "cast(epoch_us(ts) as bigint)"
    )
    return f"""
        select event_id, user_id, epoch_us,
               count(*) over w as n_1h,
               cast(sum(iv) over w as bigint) as sum_1h_q,
               min(iv) over w as min_1h_q,
               max(iv) over w as max_1h_q
        from (
            select event_id, user_id, {us} as epoch_us,
                   cast(floor(value * 1000000.0e0 + 0.5e0) as bigint) as iv
            from events
        ) e
        window w as (
            partition by user_id order by epoch_us
            range between 3600000000 preceding and current row
        )"""


# ---------------------------------------------------------------------------
# multivariate ridge regression via exact normal equations
# ---------------------------------------------------------------------------
def _ridge_fit_sql(d: str) -> str:
    """Per-returnflag linear model price_cents ~ quantity + discount + tax:
    exact integer moment matrix in ONE map-side-combined aggregate, Cramer
    solve generated as fixed-order IEEE arithmetic (operators/regression.py)
    — the d-feature generalization of trend_fit."""
    return regression.ridge_fit_sql(
        d,
        "lineitem",
        "l_returnflag",
        [
            "l_quantity",
            "cast(floor(l_discount * 100.0e0 + 0.5e0) as bigint)",
            "cast(floor(l_tax * 100.0e0 + 0.5e0) as bigint)",
        ],
        "cast(floor(l_extendedprice * 100.0e0 + 0.5e0) as bigint)",
        lam=0,
    )


def _profile_sql(d: str) -> str:
    """One-scan column profiler over events: nulls / exact distincts /
    numeric extremes / string content-hash extremes (curation.profile_sql)."""
    return curation.profile_sql(
        d, "events",
        numeric_cols=["event_id", "user_id", "value"],
        string_cols=["event_type", "props"],
    )


def _headways_sql(d: str) -> str:
    """Service-frequency headways per (event_type, hour): integer-micros
    gaps via one keyed lag window (temporal.headway_sql)."""
    return temporal.headway_sql(d)


def _return_gaps_sql(d: str) -> str:
    """Inter-session return-time analytics: per user the number of
    sessions, returns (session → next session), and exact integer-micros
    min/max/total return gap — the churn/retention signal product teams
    track next to the session table.  Same break rule as events_sessionize;
    everything after the per-user sort is integer.

    Scale: the sessionize window + one dimension-sized session table window
    + a per-user aggregate — all on the same user key, one shuffle."""
    us = (
        "cast(timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', ts) as bigint)"
        if d == SPARK
        else "cast(epoch_us(ts) as bigint)"
    )
    return f"""
        with q as (
            select user_id, event_id, {us} as us from events
        ),
        flagged as (
            select user_id, us,
                   case when lag(us) over w is null
                             or us - lag(us) over w > 1800000000
                        then 1 else 0 end as brk
            from q
            window w as (partition by user_id order by us asc, event_id asc)
        ),
        sessioned as (
            select user_id, us,
                   cast(sum(brk) over (partition by user_id order by us asc
                                       rows between unbounded preceding
                                       and current row) as bigint) as sidx
            from flagged
        ),
        sess as (
            select user_id, sidx,
                   min(us) as s_us, max(us) as e_us
            from sessioned group by user_id, sidx
        ),
        gaps as (
            select user_id,
                   lead(s_us) over (partition by user_id order by sidx) - e_us
                       as gap_us
            from sess
        )
        select user_id,
               cast(count(*) as bigint) as n_sessions,
               cast(count(gap_us) as bigint) as n_returns,
               cast(min(gap_us) as bigint) as min_gap_us,
               cast(max(gap_us) as bigint) as max_gap_us,
               cast(coalesce(sum(gap_us), 0) as bigint) as total_gap_us
        from gaps group by user_id"""


def _quantile_rank_sql(d: str) -> str:
    """Per-group quantile-rank transform (the rank-gauss/quantile-uniform
    feature): qrank = (rn − 1)/(n − 1) with a fully deterministic order
    (value, event_id), quantized 1e-9 — the monotone feature map tabular
    models use to kill scale/outlier effects.

    Scale: one window + one count over the same group key — one shuffle."""
    return """
        with q as (
            select event_type, event_id,
                   cast(floor(value * 1.0e6 + 0.5e0) as bigint) as xq
            from events
        ),
        r as (
            select event_type, event_id, xq,
                   row_number() over (partition by event_type
                                      order by xq asc, event_id asc) as rn,
                   count(*) over (partition by event_type) as n
            from q
        )
        select event_type, event_id, xq,
               cast(floor(cast(rn - 1 as double) / cast(n - 1 as double)
                    * 1.0e9 + 0.5e0) as bigint) as qrank_q9
        from r where n > 1"""


def _benford_sql(d: str) -> str:
    """Benford's-law first-digit audit of the price column — the classic
    numeric-forensics screen.  The first significant digit comes from the
    INTEGER cent representation's decimal string (integers format
    identically in both engines — no log10/pow float path), expected
    probabilities log10(1+1/k) ride as 9 literals, and each digit's chi²
    term is quantized to bigint 1e-9 so the audit is bit-exact.

    Scale: one scan, one 9-key map-side-combined groupBy."""
    probs = {k: math.log10(1.0 + 1.0 / k) for k in range(1, 10)}
    pcase = " ".join(
        f"when d = '{k}' then {probs[k]!r}e0" for k in range(1, 10)
    )
    chi = (
        "cast(floor((cast(obs as double) - exp_n) * (cast(obs as double) - exp_n)"
        " / exp_n * 1.0e9 + 0.5e0) as bigint)"
    )
    return f"""
        with q as (
            select substring(cast(cast(floor(l_extendedprice * 100.0e0 + 0.5e0)
                   as bigint) as {'string' if d == SPARK else 'varchar'}), 1, 1) as d
            from lineitem where l_extendedprice > 0.01e0
        ),
        c as (select d, count(*) as obs from q group by d),
        n as (select sum(obs) as n from c),
        staged as (
            select c.d as first_digit, cast(c.obs as bigint) as obs,
                   (case {pcase} end) * cast(n.n as double) as exp_n
            from c cross join n
        )
        select first_digit, obs,
               round(exp_n, 6) as expected,
               {chi} as chi2_term_q9
        from staged"""


def _haar_energy_sql(d: str) -> str:
    """3-level Haar wavelet energy of each user's activity series — the
    multi-resolution signal feature (burstiness at 1/2/4-slot scales):
    the user's time span splits into 8 equal slots, slot sums are exact
    1e-3-quantized integers (one groupBy with 8 conditional sums — no
    dense-fill join), and the Haar transform unrolls as pure integer
    arithmetic: level-1/2/3 detail energies are sums of squared
    differences.  |slot sum| ≤ ~1e7 ⇒ d² ≤ ~4e14, safely inside int64.

    Scale: ONE user-keyed window (span) + ONE groupBy — two passes over
    the same shuffle key."""
    us = (
        "cast(timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', ts) as bigint)"
        if d == SPARK
        else "cast(epoch_us(ts) as bigint)"
    )
    idiv = "div" if d == SPARK else "//"
    slot = f"least(7, ((us - min_us) * 8) {idiv} (max_us - min_us + 1))"
    s = ", ".join(
        f"cast(coalesce(sum(case when slot = {k} then vq end), 0) as bigint) as s{k}"
        for k in range(8)
    )
    # Haar: a1_i = s2i + s2i+1, d1_i = s2i - s2i+1; levels chain on sums
    d1 = ["(s0 - s1)", "(s2 - s3)", "(s4 - s5)", "(s6 - s7)"]
    a1 = ["(s0 + s1)", "(s2 + s3)", "(s4 + s5)", "(s6 + s7)"]
    d2 = [f"({a1[0]} - {a1[1]})", f"({a1[2]} - {a1[3]})"]
    a2 = [f"({a1[0]} + {a1[1]})", f"({a1[2]} + {a1[3]})"]
    d3 = [f"({a2[0]} - {a2[1]})"]
    e = lambda ds: " + ".join(f"{x} * {x}" for x in ds)  # noqa: E731
    return f"""
        with q as (
            select user_id, {us} as us,
                   cast(floor(value * 1.0e3 + 0.5e0) as bigint) as vq
            from events
        ),
        spans as (
            select user_id, us, vq,
                   min(us) over (partition by user_id) as min_us,
                   max(us) over (partition by user_id) as max_us
            from q
        ),
        slotted as (
            select user_id, vq, cast({slot} as int) as slot from spans
        ),
        sums as (
            select user_id, {s} from slotted group by user_id
        )
        select user_id,
               cast({e(d1)} as bigint) as energy_l1,
               cast({e(d2)} as bigint) as energy_l2,
               cast({e(d3)} as bigint) as energy_l3,
               cast((s0+s1+s2+s3+s4+s5+s6+s7) as bigint) as total_q3
        from sums"""


def _churn_labels_sql(d: str, horizon_days: int = 14, feat_days: int = 7) -> str:
    """Supervised-dataset builder for churn prediction: per (user, event)
    the LABEL — no activity within the next ``horizon_days`` — plus leakage
    -safe features computed strictly from the past (events in the prior
    ``feat_days``, micros since previous event).  The window/label
    discipline every behavioral-ML pipeline needs and most get subtly
    wrong (future leakage); here the feature frame ends at the current row
    and the label frame is derived from lead() only.

    All integer micros; one user-keyed sort serves the lead, the lag, and
    the RANGE frame."""
    us = (
        "cast(timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', ts) as bigint)"
        if d == SPARK
        else "cast(epoch_us(ts) as bigint)"
    )
    h_us = horizon_days * 86400000000
    f_us = feat_days * 86400000000
    return f"""
        with q as (
            select user_id, event_id, {us} as us from events
        ),
        w as (
            select user_id, event_id, us,
                   lead(us) over win as next_us,
                   lag(us) over win as prev_us,
                   count(*) over (partition by user_id order by us
                                  range between {f_us} preceding and current row)
                       as n_prior_{feat_days}d
            from q
            window win as (partition by user_id order by us asc, event_id asc)
        )
        select user_id, event_id,
               cast(n_prior_{feat_days}d as bigint) as n_prior_{feat_days}d,
               cast(coalesce(us - prev_us, -1) as bigint) as us_since_prev,
               (next_us is null or next_us - us > {h_us}) as churned
        from w"""


def _autocorr_sql(d: str, lags_h: tuple[int, ...] = (24, 48)) -> str:
    """Periodicity detection: Pearson autocorrelation of each user's HOURLY
    event-count series at daily lags — the rhythm detector (daily
    commuters spike at lag 24h) behind demand forecasting.  Exact integer
    moments (n, Σx, Σy, Σxy, Σx², Σy²) from a self-join of the hourly
    count table on (user, hour+lag); r is ONE fixed float sequence
    quantized 1e-9.  Pairs exist only where BOTH hours have events — the
    sparse-series convention, documented; users need ≥ 3 overlapping
    hour pairs to emit.

    Scale: the hourly table is users × active-hours (dimension-sized next
    to the corpus); the lag join is keyed on (user, hour)."""
    us = (
        "cast(timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', ts) as bigint)"
        if d == SPARK
        else "cast(epoch_us(ts) as bigint)"
    )
    idiv = "div" if d == SPARK else "//"
    lags_vals = ", ".join(str(h) for h in lags_h)
    lags = (
        f"explode(array({lags_vals}))" if d == SPARK
        else f"unnest([{lags_vals}])"
    )
    num = "(cast(n * sxy - sx * sy as double))"
    den = (
        "sqrt(cast(n * sxx - sx * sx as double))"
        " * sqrt(cast(n * syy - sy * sy as double))"
    )
    rq = f"cast(floor({num} / nullif({den}, 0.0e0) * 1.0e9 + 0.5e0) as bigint)"
    return f"""
        with h as (
            select user_id, ({us}) {idiv} 3600000000 as hour,
                   cast(count(*) as bigint) as c
            from events group by 1, 2
        ),
        lagged as (
            select a.user_id, l.lag_h, a.c as x, b.c as y
            from h a
            cross join (select {lags} as lag_h) l
            join h b on b.user_id = a.user_id and b.hour = a.hour + l.lag_h
        ),
        m as (
            select user_id, lag_h,
                   cast(count(*) as bigint) as n,
                   cast(sum(x) as bigint) as sx, cast(sum(y) as bigint) as sy,
                   cast(sum(x * y) as bigint) as sxy,
                   cast(sum(x * x) as bigint) as sxx,
                   cast(sum(y * y) as bigint) as syy
            from lagged group by user_id, lag_h
        )
        select user_id, cast(lag_h as int) as lag_h, n,
               {rq} as autocorr_q9
        from m
        where n >= 3
          and n * sxx - sx * sx > 0
          and n * syy - sy * sy > 0"""


def _weighted_median_sql(d: str) -> str:
    """Exact weighted median of order value per returnflag, weighted by
    quantity — the fair-aggregation primitive (a 50-unit line counts 50×):
    lower weighted median = the smallest value whose cumulative weight
    reaches half the total.  Pure integers: quantized values, integer
    weights, ONE cumulative window over the per-group sort + one argmin —
    no approximation, no percentile interpolation ambiguity.

    Scale: one shuffle on the group key; the cumulative frame runs in the
    same sort; ties on value merge before the window (groupBy) so the
    window input is value-distinct per group."""
    v = "cast(floor(l_extendedprice * 1.0e2 + 0.5e0) as bigint)"
    w = "cast(floor(l_quantity + 0.5e0) as bigint)"
    return f"""
        with q as (
            select l_returnflag as grp, {v} as vq, sum({w}) as wq
            from lineitem group by l_returnflag, {v}
        ),
        c as (
            select grp, vq, wq,
                   cast(sum(wq) over (partition by grp order by vq asc
                                      rows between unbounded preceding
                                      and current row) as bigint) as cw,
                   cast(sum(wq) over (partition by grp) as bigint) as tw
            from q
        )
        select grp as l_returnflag,
               cast(min(case when 2 * cw >= tw then vq end) as bigint)
                   as wmedian_q2,
               cast(max(tw) as bigint) as total_weight
        from c group by grp"""


def _theil_sen_sql(d: str) -> str:
    """Theil–Sen robust trend per user: the MEDIAN of all pairwise slopes
    (value change per hour) — breakdown point 29%, the robust sibling of
    the OLS trend_fit and the rank-based mk_trend.  Slopes are quantized
    to bigint 1e-6 per pair (one float division each, fixed operand
    order); the median is the lower median over the per-user slope
    multiset via the same cumulative-window argmin as weighted_median.

    Scale: O(n²) pairs per GROUP by problem statement (n = events/user,
    bounded); pairs join on the user key only — never cross-user."""
    us = (
        "cast(timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', ts) as bigint)"
        if d == SPARK
        else "cast(epoch_us(ts) as bigint)"
    )
    slope = (
        "cast(floor((b.xq - a.xq) * 3600.0e0 / cast(b.us - a.us as double)"
        " + 0.5e0) as bigint)"
    )
    return f"""
        with q as (
            select user_id, event_id, {us} as us,
                   cast(floor(value * 1.0e6 + 0.5e0) as bigint) as xq
            from events
        ),
        slopes as (
            select a.user_id, {slope} as s
            from q a join q b
              on b.user_id = a.user_id
             and (b.us > a.us or (b.us = a.us and b.event_id > a.event_id))
            where b.us <> a.us
        ),
        g as (select user_id, s, count(*) as c from slopes group by user_id, s),
        c as (
            select user_id, s, c,
                   cast(sum(c) over (partition by user_id order by s asc
                                     rows between unbounded preceding
                                     and current row) as bigint) as cc,
                   cast(sum(c) over (partition by user_id) as bigint) as tc
            from g
        )
        select user_id,
               cast(min(case when 2 * cc >= tc then s end) as bigint)
                   as ts_slope_q6_per_h,
               cast(max(tc) as bigint) as n_slopes
        from c group by user_id"""


def _stump_sql(d: str, n_features: int = 2) -> str:
    """Decision-stump learner: per embedding feature the THRESHOLD that
    maximizes information gain for y = label % 2 — the weak learner
    boosting stacks, and the single most interpretable split-quality
    report.  Candidate splits are the observed distinct values; prefix
    positive/total counts come from ONE cumulative window per feature over
    the value sort; each candidate's IG is a fixed float sequence over
    those exact integers, quantized to 1e-9 BEFORE the per-feature argmax
    (ties → smaller threshold).  Zero-entropy guards use the exact counts.

    Scale: one (feature)-keyed window over the distinct-value table + a
    per-feature argmax — feature count × distinct values, corpus touched
    once."""
    cols = ", ".join(
        f"cast({element_at('embedding', str(j), d)} as double) as x{j}"
        for j in range(1, n_features + 1)
    )
    stack = " union all ".join(
        f"select {j} as feat, cast(floor(x{j} * 1.0e6 + 0.5e0) as bigint) as vq, y from base"
        for j in range(1, n_features + 1)
    )
    # entropy helper over (pos, n): −p·ln(p) − (1−p)·ln(1−p), 0 when pure
    def ent(pos: str, n: str) -> str:
        p = f"(cast({pos} as double) / cast({n} as double))"
        return (
            f"(case when {pos} = 0 or {pos} = {n} then 0.0e0 else "
            f"-({p}) * ln({p}) - (1.0e0 - {p}) * ln(1.0e0 - {p}) end)"
        )

    h_all = ent("tp", "tn")
    h_l = ent("lp", "ln_")
    h_r = ent("tp - lp", "tn - ln_")
    ig = (
        f"({h_all} - (cast(ln_ as double) / cast(tn as double)) * {h_l}"
        f" - (cast(tn - ln_ as double) / cast(tn as double)) * {h_r})"
    )
    igq = f"cast(floor({ig} * 1.0e9 + 0.5e0) as bigint)"
    return f"""
        with base as (
            select {cols}, cast(label % 2 as bigint) as y from embeddings
        ),
        stacked as ({stack}),
        vals as (
            select feat, vq,
                   cast(count(*) as bigint) as n,
                   cast(sum(y) as bigint) as pos
            from stacked group by feat, vq
        ),
        pref as (
            select feat, vq,
                   cast(sum(n) over w as bigint) as ln_,
                   cast(sum(pos) over w as bigint) as lp,
                   cast(sum(n) over (partition by feat) as bigint) as tn,
                   cast(sum(pos) over (partition by feat) as bigint) as tp
            from vals
            window w as (partition by feat order by vq asc
                         rows between unbounded preceding and current row)
        ),
        scored as (
            select feat, vq, ln_, tn, {igq} as ig_q9
            from pref where ln_ < tn
        )
        select cast(feat as int) as feature_idx,
               vq as threshold_q6, ig_q9,
               ln_ as n_left, tn - ln_ as n_right
        from (
            select feat, vq, ln_, tn, ig_q9,
                   row_number() over (
                       partition by feat order by ig_q9 desc, vq asc) as rn
            from scored
        ) t where rn = 1"""


def _kaplan_meier_sql(d: str) -> str:
    """Kaplan–Meier survival estimate of user lifetime: duration = hours
    between a user's first and last event; users still active in the final
    12 hours of the corpus are CENSORED (lifetime only known to exceed
    their duration) — the estimator that handles censoring correctly where
    a naive mean dies.  S(t) = Π over event times (1 − d_i/n_i), computed
    order-free as exp(Σ quantized ln terms): each time step's ln(1−d/n)
    quantized to bigint 1e-9, the cumulative sum one ordered window, the
    exp at the end.

    Scale: per-user spans are one groupBy; the KM table is event-time-
    sized (≤ users), windows run over THAT dimension table only."""
    us = (
        "cast(timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', ts) as bigint)"
        if d == SPARK
        else "cast(epoch_us(ts) as bigint)"
    )
    h12 = 12 * 3600000000
    lnq = "cast(floor(ln({x}) * 1000000000.0e0 + 0.5e0) as bigint)"
    term = lnq.format(
        x="1.0e0 - cast(d_events as double) / cast(n_risk as double)"
    )
    return f"""
        with spans as (
            select user_id, min({us}) as first_us, max({us}) as last_us
            from events group by user_id
        ),
        horizon as (select max(last_us) as h from spans),
        lif as (
            select user_id,
                   (last_us - first_us) {'div' if d == SPARK else '//'} 3600000000
                       as dur_h,
                   (last_us < horizon.h - {h12}) as event
            from spans cross join horizon
        ),
        steps as (
            select dur_h,
                   cast(count(*) as bigint) as n_at,
                   cast(sum(case when event then 1 else 0 end) as bigint)
                       as d_events
            from lif group by dur_h
        ),
        risk as (
            select dur_h, d_events,
                   cast(sum(n_at) over (order by dur_h desc
                                        rows between unbounded preceding
                                        and current row) as bigint) as n_risk
            from steps
        ),
        km as (
            select dur_h, d_events, n_risk,
                   cast(sum(case when d_events > 0 then {term} else 0 end)
                        over (order by dur_h asc
                              rows between unbounded preceding and current row)
                        as bigint) as cum_ln_q9
            from risk
        )
        select cast(dur_h as bigint) as dur_h, d_events, n_risk,
               round(exp(cast(cum_ln_q9 as double) / 1.0e9), 9) as survival
        from km where d_events > 0"""


def _gini_sql(d: str) -> str:
    """Gini coefficient + Lorenz curve of user activity concentration —
    'do 20% of users generate 80% of events?': exact closed form
    G = (2·Σ i·x_i − (n+1)·Σ x_i) / (n·Σ x_i) over ranked activity counts
    — pure integer numerator/denominator (one ranked window), ONE division
    at the end; Lorenz points are exact integer cumulative shares.

    Scale: the ranked window runs over the USER table (dimension-sized),
    corpus touched once for the counts."""
    return """
        with act as (
            select user_id, cast(count(*) as bigint) as x
            from events group by user_id
        ),
        ranked as (
            select x,
                   cast(row_number() over (order by x asc, user_id asc)
                        as bigint) as i,
                   cast(count(*) over () as bigint) as n,
                   cast(sum(x) over () as bigint) as sx,
                   cast(sum(x) over (order by x asc, user_id asc
                                     rows between unbounded preceding
                                     and current row) as bigint) as cumx
            from act
        )
        select i as rank, x as n_events,
               cast(cumx as bigint) as cum_events,
               round(cast(cumx as double) / cast(sx as double), 9)
                   as lorenz_share,
               round(cast(2 * sum(i * x) over () - (max(n) over () + 1)
                          * max(sx) over () as double)
                     / cast(max(n) over () * max(sx) over () as double), 9)
                   as gini
        from ranked"""


_BOOT_B = 20


def _poisson_bootstrap_sql(d: str, n_reps: int = _BOOT_B) -> str:
    """Poisson bootstrap of the mean event value per type — THE resampling
    technique that works on data too large to index (each row draws an
    independent Poisson(1) replicate weight instead of multinomial counts;
    Chamandy et al. 2012): B replicate means from ONE scan, no row ids, no
    global state.  Weights come from the portable hash via the inverse
    Poisson(1) CDF as a CASE ladder (deterministic ⇒ value-hash-gateable);
    replicate means are exact integer ratios quantized at the end; the
    summary row per type reports the replicate spread (min/max/mean of
    means) — the CI ingredients.

    Scale: one scan × B-way explode (B constant), one (type, rep)
    map-side-combined aggregate, one tiny summary agg."""
    # cumulative Poisson(1): P(0)=.3679 P(<=1)=.7358 P(<=2)=.9197 P(<=3)=.9810
    # P(<=4)=.9963 P(<=5)=.9994  (1e9-scaled integer thresholds on the hash)
    u = phash60(concat_str(["'boot:'", "cast(event_id as string)", "':'",
                            "cast(rep as string)"], d), d)
    reps = (
        f"explode(sequence(0, {n_reps - 1}))" if d == SPARK
        else f"unnest(generate_series(0, {n_reps - 1}))"
    )
    w = f"""(case
        when u < 424136118829305344 then 0
        when u < 848272237658610688 then 1
        when u < 1060340297073263360 then 2
        when u < 1131029650211480960 then 3
        when u < 1148701988496035328 then 4
        else 5 end)"""
    mean_q = (
        "cast(floor(cast(sxw as double) / cast(sw as double) + 0.5e0) as bigint)"
    )
    return f"""
        with q as (
            select event_type, event_id,
                   cast(floor(value * 1.0e6 + 0.5e0) as bigint) as xq
            from events
        ),
        r as (select q.*, {reps} as rep from q),
        wtd as (
            select event_type, rep, xq, ({u}) as u from r
        ),
        reps as (
            select event_type, rep,
                   cast(sum({w} * xq) as bigint) as sxw,
                   cast(sum({w}) as bigint) as sw
            from wtd group by event_type, rep
        ),
        means as (
            select event_type, rep, {mean_q} as mean_q6
            from reps where sw > 0
        )
        select event_type,
               cast(count(*) as bigint) as n_reps,
               cast(min(mean_q6) as bigint) as boot_min_q6,
               cast(max(mean_q6) as bigint) as boot_max_q6,
               cast(floor(avg(cast(mean_q6 as double)) + 0.5e0) as bigint)
                   as boot_mean_q6
        from means group by event_type"""


_STAT_ROUNDS = 4


def _stationary_sql(d: str, n_rounds: int = _STAT_ROUNDS) -> str:
    """Stationary distribution of the event-type Markov chain: π·Pⁿ from a
    uniform start over the gated transition counts — 'where does the user
    journey settle'.  The chain is DIMENSION-sized (types × types), so the
    power iteration unrolls as chained CTEs over tiny tables; each round's
    π entries quantize to bigint 1e-9 BEFORE the per-column sum (the
    pagerank state discipline), so the result is bit-exact at any
    partitioning.  Rows with no outgoing transition cannot occur (every
    prev_type has successors by construction of the bigram set).

    Scale: the corpus is touched ONCE (the bigram count); all rounds run
    over the |types|² matrix."""
    term = (
        "cast(floor(cast(p.pi_q as double) / 1.0e9"
        " * (cast(t.n as double) / cast(r.tot as double))"
        " * 1.0e9 + 0.5e0) as bigint)"
    )
    ctes = [
        f"t as ({_transitions_sql(d)})",
        "types as (select prev_type as et from t union"
        " select next_type as et from t)",
        "nt as (select count(*) as k from types)",
        "r as (select prev_type, cast(sum(n) as bigint) as tot"
        " from t group by prev_type)",
        # uniform start, integer split of 1e9 (remainder to the first type)
        """p0 as (
            select et,
                   cast(1000000000 {idiv} k
                        + case when rn = 1 then 1000000000 % k else 0 end
                        as bigint) as pi_q
            from (select et, row_number() over (order by et) as rn
                  from types) x cross join nt
        )""".format(idiv="div" if d == SPARK else "//"),
    ]
    for i in range(n_rounds):
        ctes.append(f"""p{i + 1} as (
            select t.next_type as et, cast(sum({term.replace('p.', f'p{i}.')})
                as bigint) as pi_q
            from t
            join p{i} on p{i}.et = t.prev_type
            join r on r.prev_type = t.prev_type
            group by t.next_type
        )""")
    return (
        "with " + ", ".join(ctes)
        + f" select et as event_type, pi_q as stationary_q9 from p{n_rounds}"
    )


def _seasonal_sql(d: str) -> str:
    """Seasonal decomposition (STL-lite) of the event stream: per
    (event_type, hour-of-day) the seasonal index — hourly activity rate
    over the type's overall rate — plus the residual dispersion after
    removing the seasonal component.  The demand-curve shape forecasting
    starts from.  Integer counts; indices and residuals quantized fixed
    float sequences (per-bucket, never folded as floats).

    Scale: two map-side-combined aggregates over (type, hod) and (type) —
    dimension-sized outputs, corpus scanned once."""
    hod = (
        "cast(date_format(ts, 'H') as int)" if d == SPARK
        else "cast(date_part('hour', ts) as int)"
    )
    day = "cast(date_trunc('day', ts) as date)"
    idx = (
        "cast(floor(cast(h.n as double) / cast(h.n_days as double)"
        " / (cast(t.n as double) / cast(t.n_slots as double))"
        " * 1.0e9 + 0.5e0) as bigint)"
    )
    return f"""
        with e as (
            select event_type, {hod} as hod, {day} as day from events
        ),
        h as (
            select event_type, hod,
                   cast(count(*) as bigint) as n,
                   cast(count(distinct day) as bigint) as n_days
            from e group by event_type, hod
        ),
        t as (
            select event_type,
                   cast(count(*) as bigint) as n,
                   cast(count(distinct day) as bigint) * 24 as n_slots
            from e group by event_type
        )
        select h.event_type, h.hod, h.n as n_events,
               {idx} as seasonal_idx_q9
        from h join t on t.event_type = h.event_type"""


def _peaks_sql(d: str) -> str:
    """Peak detection on the hourly event-count series per type: strict
    local maxima (greater than BOTH neighbors) whose height clears the
    type's p90 hourly count — the alerting primitive behind 'demand
    spiked'.  Integer counts; the p90 gate uses the exact interpolated
    percentile re-quantized half-up (the robust_anomaly discipline); the
    neighbor test is one lag/lead window over the per-type hour series.

    Scale: the hourly table is (type × active hours) — dimension-sized;
    one window + one percentile over it."""
    us = (
        "cast(timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', ts) as bigint)"
        if d == SPARK
        else "cast(epoch_us(ts) as bigint)"
    )
    idiv = "div" if d == SPARK else "//"
    pct = (
        "percentile(n, 0.9e0)" if d == SPARK else "quantile_cont(n, 0.9e0)"
    )
    return f"""
        with h as (
            select event_type, ({us}) {idiv} 3600000000 as hour,
                   cast(count(*) as bigint) as n
            from events group by 1, 2
        ),
        gate as (
            select event_type,
                   cast(floor({pct} + 0.5e0) as bigint) as p90q
            from h group by event_type
        ),
        w as (
            select event_type, hour, n,
                   lag(n) over win as prev_n,
                   lead(n) over win as next_n
            from h
            window win as (partition by event_type order by hour asc)
        )
        select w.event_type, cast(w.hour as bigint) as hour, w.n,
               g.p90q
        from w join gate g on g.event_type = w.event_type
        where w.prev_n is not null and w.next_n is not null
          and w.n > w.prev_n and w.n > w.next_n
          and w.n >= g.p90q"""


def _cramers_v_sql(d: str) -> str:
    """Cramér's V association between event type and user cohort (user_id
    hash-split into 4 segments): the normalized χ² that answers 'are these
    two categoricals related, and how strongly' on a 0–1 scale — the
    feature-selection screen for categorical pairs.  χ² terms quantized to
    bigint 1e-6 per contingency cell BEFORE the fold (token_drift's
    discipline); V = sqrt(χ²/(n·min(r−1, c−1))) one fixed float sequence.

    Scale: one scan → contingency counts (map-side combine); everything
    after runs on the r×c table."""
    seg_key = concat_str(["'seg:'", "cast(user_id as string)"], d)
    seg = f"({phash60(seg_key, d)}) % 4"
    chi_term = (
        "cast(floor((cast(o as double) - e) * (cast(o as double) - e)"
        " / e * 1.0e6 + 0.5e0) as bigint)"
    )
    return f"""
        with q as (
            select event_type, {seg} as seg from events
        ),
        cell as (
            select event_type, seg, cast(count(*) as bigint) as o
            from q group by event_type, seg
        ),
        rm as (select event_type, cast(sum(o) as bigint) as r from cell group by event_type),
        cm as (select seg, cast(sum(o) as bigint) as c from cell group by seg),
        n as (select cast(sum(o) as bigint) as n,
                     cast(count(distinct event_type) as bigint) as nr,
                     cast(count(distinct seg) as bigint) as nc
              from cell),
        grid as (
            select rm.event_type, cm.seg,
                   coalesce(cell.o, 0) as o,
                   cast(rm.r as double) * cast(cm.c as double)
                       / cast(n.n as double) as e
            from rm cross join cm cross join n
            left join cell on cell.event_type = rm.event_type
                          and cell.seg = cm.seg
        ),
        chi as (
            select cast(sum({chi_term}) as bigint) as chi2_q6 from grid
        )
        select n.nr as n_rows_cat, n.nc as n_cols_cat, n.n as n_obs,
               chi.chi2_q6,
               round(sqrt(cast(chi.chi2_q6 as double) / 1.0e6
                     / (cast(n.n as double)
                        * cast(least(n.nr - 1, n.nc - 1) as double))), 9)
                   as cramers_v
        from chi cross join n"""


def _cusum_sql(d: str) -> str:
    """Per-user one-sided CUSUM changepoint detector over the event stream,
    closed-form window formulation (operators.temporal.cusum_sql)."""
    return temporal.cusum_sql(d)


def _kanon_sql(d: str) -> str:
    """Minimal-generalization k-anonymity audit over the customer
    quasi-identifiers (operators.curation.kanon_ladder_sql)."""
    return curation.kanon_ladder_sql(d, k=5)


# ---------------------------------------------------------------------------
# Spearman rank correlation (per source): n_chars vs distinct-token count
# ---------------------------------------------------------------------------
def _spearman_sql(d: str) -> str:
    """Spearman's ρ with ties, exactly: average ranks carried as the INTEGER
    2·avg_rank = 2·min_rank + n_ties − 1, Pearson over those integers (six
    bigint sums per group — ρ is scale/shift-invariant so the ×2 cancels),
    one final double expression.  Correlates document length (n_chars) with
    lexical type count per source — the monotone-association screen that
    Pearson's linearity assumption muddies.

    Scale: two rank windows partitioned by source + one groupBy — the
    corpus shuffles once on source; sums ≪ 2^53 (rank ≤ 2·group size)."""
    toks = tx.tokens("text", d)
    ntypes = (
        f"cast(size(array_distinct({toks})) as bigint)"
        if d == SPARK
        else f"cast(len(list_distinct({toks})) as bigint)"
    )
    return f"""
        with base as (
            select source, cast(n_chars as bigint) as x, {ntypes} as y
            from documents
        ),
        ranked as (
            select source,
                   2 * rank() over (partition by source order by x asc)
                     + count(*) over (partition by source, x) - 1 as rx,
                   2 * rank() over (partition by source order by y asc)
                     + count(*) over (partition by source, y) - 1 as ry
            from base
        ),
        sums as (
            select source,
                   cast(count(*) as bigint) as n,
                   cast(sum(rx) as bigint) as sx,
                   cast(sum(ry) as bigint) as sy,
                   cast(sum(rx * rx) as bigint) as sxx,
                   cast(sum(ry * ry) as bigint) as syy,
                   cast(sum(rx * ry) as bigint) as sxy
            from ranked group by source
        )
        select source, n,
               round((cast(n as double) * cast(sxy as double)
                      - cast(sx as double) * cast(sy as double))
                     / nullif(sqrt(cast(n as double) * cast(sxx as double)
                                   - cast(sx as double) * cast(sx as double))
                            * sqrt(cast(n as double) * cast(syy as double)
                                   - cast(sy as double) * cast(sy as double)),
                              0.0e0), 9) as rho
        from sums"""


# ---------------------------------------------------------------------------
# Mann–Whitney U (each event_type vs the rest)
# ---------------------------------------------------------------------------
def _mannwhitney_sql(d: str) -> str:
    """Rank-sum test per event_type vs all other events over `value`: the
    nonparametric location-shift screen (ab_test's Welch z assumes
    near-normality; U does not).  Average ranks as the integer
    2·avg_rank (ties exact), U carried ×2 (integer), tie-corrected normal
    approximation z = (2U − n1·n2) / (2σ) with σ² = n1n2/12·((N+1) −
    Σ(t³−t)/(N(N−1))) — doubles only in the final expression.

    Scale: one global rank window over the value grid (grid-sized after the
    value-level aggregate), one groupBy per type; Σt³ ≤ grid·max_tie³
    stays far under 2^53 at every SF (pinned by the dtype audit)."""
    return """
        with tv as (
            select event_type, value, cast(count(*) as bigint) as c_tv
            from events group by event_type, value
        ),
        grid as (
            select value, cast(sum(c_tv) as bigint) as c_v
            from tv group by value
        ),
        r2g as (
            select value, c_v,
                   2 * (cast(sum(c_v) over (order by value asc
                            rows between unbounded preceding and current row)
                        as bigint) - c_v) + c_v + 1 as r2
            from grid
        ),
        per as (
            select tv.event_type,
                   cast(sum(tv.c_tv) as bigint) as n1,
                   cast(sum(tv.c_tv * r.r2) as bigint) as r1_2
            from tv join r2g r on r.value = tv.value
            group by tv.event_type
        ),
        ties as (
            select cast(sum(c_v * c_v * c_v - c_v) as bigint) as t3,
                   cast(sum(c_v) as bigint) as nn
            from grid
        )
        select event_type, n1,
               cast(r1_2 - n1 * (n1 + 1) as bigint) as u1_x2,
               round((cast(r1_2 - n1 * (n1 + 1) as double)
                      - cast(n1 * (nn - n1) as double))
                     / nullif(2.0e0 * sqrt(
                         cast(n1 as double) * cast(nn - n1 as double) / 12.0e0
                         * (cast(nn + 1 as double)
                            - cast(t3 as double)
                              / (cast(nn as double) * cast(nn - 1 as double)))),
                       0.0e0), 9) as z
        from per cross join ties"""


# ---------------------------------------------------------------------------
# Jensen–Shannon divergence of per-source term distributions vs the rest
# ---------------------------------------------------------------------------
def _jsd_sql(d: str) -> str:
    """JSD(source ‖ rest-of-corpus) over unigram distributions — the
    bounded, symmetric drift measure (KS covers continuous features,
    χ²/token_drift is unbounded and tail-sensitive; JSD ∈ [0, ln 2]).

    Exactness: p, q, m are exact integer-count ratios; each term's
    contribution ½(p·ln(p/m) + q·ln(q/m)) is quantized to 1e9 units BEFORE
    the per-source fold (integer sum = order-free; ln at the quantized
    edge is cross-engine-stable — same discipline as nb_langid/pmi).
    0·ln 0 handled by the p>0 / q>0 guards.

    Support: the grid is sources × corpus vocabulary (gt), LEFT-joined to
    the per-source counts with c_s coalesced to 0 — so terms a source is
    MISSING (p=0, q>0) contribute their q·ln 2/2 mass.  (Pre-r5 this
    derived from st and silently dropped exactly the missing-vocabulary
    signal a drift measure exists to catch.)

    Scale: token explode → (source, term) count (map-side combined); the
    sources×vocab grid is |sources|·|vocab| — dimension-sized (sources is
    a tiny broadcast side); corpus scanned once."""
    toks = tx.tokens("text", d)
    unnest = (
        f"select source, explode({toks}) as term from documents"
        if d == SPARK
        else f"select source, unnest({toks}) as term from documents"
    )
    p = "(cast(c_s as double) / cast(n_s as double))"
    q = "(cast(c_g - c_s as double) / cast(n_g - n_s as double))"
    m = f"(({p} + {q}) / 2.0e0)"
    contrib = (
        f"(case when c_s > 0 then {p} * ln({p} / {m}) else 0.0e0 end"
        f" + case when c_g - c_s > 0 then {q} * ln({q} / {m}) else 0.0e0 end)"
        f" / 2.0e0"
    )
    return f"""
        with t as ({unnest}),
        st as (select source, term, cast(count(*) as bigint) as c_s
               from t group by source, term),
        gt as (select term, cast(count(*) as bigint) as c_g
               from t group by term),
        ns as (select source, cast(sum(c_s) as bigint) as n_s from st group by source),
        ng as (select cast(count(*) as bigint) as n_g from t),
        grid as (
            select ns.source,
                   coalesce(st.c_s, cast(0 as bigint)) as c_s,
                   gt.c_g, ns.n_s, ng.n_g
            from ns
            cross join gt
            left join st on st.source = ns.source and st.term = gt.term
            cross join ng
        )
        select source,
               cast(sum(cast(floor({contrib} * 1000000000.0e0 + 0.5e0)
                        as bigint)) as bigint) as jsd_q9
        from grid group by source"""


# ---------------------------------------------------------------------------
# l-diversity extension of the k-anonymity ladder
# ---------------------------------------------------------------------------
def _l_diversity_sql(d: str, k: int = 5, l_min: int = 3) -> str:
    """Distinct-l-diversity audit on top of the k-anonymity ladder
    (Machanavajjhala et al. 2007): a k-anonymous equivalence class still
    leaks the sensitive attribute when every member shares it — each
    ladder level's classes must also carry ≥ l distinct sensitive values
    (market segment).  Output per level: classes, k-anonymous classes,
    l-diverse classes, and the number of k-anonymous-but-NOT-l-diverse
    classes (the homogeneity-attack surface k-anonymity alone misses).

    Scale: same shape as kanon_ladder — one map-side-combined groupBy per
    level over the QI (dimension-sized), then a 4-row union."""
    b0 = "cast(floor(c_acctbal) as bigint)"
    b1 = "cast(floor(c_acctbal / 100.0e0) as bigint)"
    b2 = "cast(floor(c_acctbal / 1000.0e0) as bigint)"
    lvl = []
    for lev, g in ((0, b0), (1, b1), (2, b2)):
        lvl.append(f"""
            select cast({lev} as bigint) as level, count(*) as n,
                   count(distinct c_mktsegment) as ndist
            from customer group by c_nationkey, ({g})""")
    lvl.append("""
            select cast(3 as bigint) as level, count(*) as n,
                   count(distinct c_mktsegment) as ndist
            from customer group by c_nationkey""")
    classes = " union all ".join(lvl)
    return f"""
        with cls as ({classes})
        select level,
               cast(count(*) as bigint) as n_classes,
               cast(sum(case when n >= {k} then 1 else 0 end) as bigint)
                   as k_anon_classes,
               cast(sum(case when ndist >= {l_min} then 1 else 0 end) as bigint)
                   as l_diverse_classes,
               cast(sum(case when n >= {k} and ndist < {l_min} then 1 else 0 end)
                    as bigint) as k_anon_not_l_diverse
        from cls group by level"""


# ---------------------------------------------------------------------------
# Kruskal–Wallis k-group rank test
# ---------------------------------------------------------------------------
def _kruskal_sql(d: str) -> str:
    """Kruskal–Wallis H over `value` across all event types at once — the
    k-group generalization of the Mann–Whitney screen (one omnibus test
    instead of k pairwise comparisons).  Rank machinery identical to
    mannwhitney: integer 2·average-ranks over the VALUE GRID, per-group
    rank sums ×2 integer; H and the tie-corrected H/C are one final double
    expression (C = 1 − Σ(t³−t)/(N³−N)).

    Scale: value-grid window + one groupBy — grid-sized state."""
    return """
        with tv as (
            select event_type, value, cast(count(*) as bigint) as c_tv
            from events group by event_type, value
        ),
        grid as (
            select value, cast(sum(c_tv) as bigint) as c_v
            from tv group by value
        ),
        r2g as (
            select value, c_v,
                   2 * (cast(sum(c_v) over (order by value asc
                            rows between unbounded preceding and current row)
                        as bigint) - c_v) + c_v + 1 as r2
            from grid
        ),
        per as (
            select tv.event_type,
                   cast(sum(tv.c_tv) as bigint) as n_g,
                   cast(sum(tv.c_tv * r.r2) as bigint) as r_g2
            from tv join r2g r on r.value = tv.value
            group by tv.event_type
        ),
        ties as (
            select cast(sum(c_v * c_v * c_v - c_v) as bigint) as t3,
                   cast(sum(c_v) as bigint) as nn
            from grid
        ),
        hstat as (
            select cast(count(*) as bigint) as k_groups, max(t.nn) as nn,
                   max(t.t3) as t3,
                   sum((cast(r_g2 as double) / 2.0e0)
                       * (cast(r_g2 as double) / 2.0e0)
                       / cast(n_g as double)) as srr
            from per cross join ties t
        )
        select k_groups, nn,
               round(12.0e0 / (cast(nn as double) * cast(nn + 1 as double))
                     * srr - 3.0e0 * cast(nn + 1 as double), 9) as h,
               round((12.0e0 / (cast(nn as double) * cast(nn + 1 as double))
                      * srr - 3.0e0 * cast(nn + 1 as double))
                     / (1.0e0 - cast(t3 as double)
                        / (cast(nn as double) * cast(nn as double)
                           * cast(nn as double) - cast(nn as double))), 9)
                   as h_tie_corrected
        from hstat"""


# ---------------------------------------------------------------------------
# Exact AUC-ROC via the rank formula
# ---------------------------------------------------------------------------
def _auc_sql(d: str) -> str:
    """Exact AUC of a scalar score for a binary label via the rank identity
    AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻), ties handled exactly by the integer
    2·average-rank machinery (mannwhitney's) — the trapezoid-free, exact
    form a ranking evaluation at corpus scale should use.  Score = document
    length, label = lang='en' (the metric is the operator; any scored
    column slots in).  Also emits Gini = 2·AUC − 1.

    Scale: score-grid window + one groupBy — grid-sized state."""
    return """
        with base as (
            select cast(n_chars as bigint) as score,
                   case when lang = 'en' then 1 else 0 end as y
            from documents
        ),
        sv as (
            select score, cast(count(*) as bigint) as c_v,
                   cast(sum(y) as bigint) as c_pos
            from base group by score
        ),
        r2g as (
            select score, c_v, c_pos,
                   2 * (cast(sum(c_v) over (order by score asc
                            rows between unbounded preceding and current row)
                        as bigint) - c_v) + c_v + 1 as r2
            from sv
        ),
        agg as (
            select cast(sum(c_pos) as bigint) as n_pos,
                   cast(sum(c_v - c_pos) as bigint) as n_neg,
                   cast(sum(c_pos * r2) as bigint) as rpos2
            from r2g
        )
        select n_pos, n_neg,
               round((cast(rpos2 as double) / 2.0e0
                      - cast(n_pos as double) * (cast(n_pos as double) + 1.0e0)
                        / 2.0e0)
                     / (cast(n_pos as double) * cast(n_neg as double)), 9) as auc,
               round(2.0e0 * ((cast(rpos2 as double) / 2.0e0
                      - cast(n_pos as double) * (cast(n_pos as double) + 1.0e0)
                        / 2.0e0)
                     / (cast(n_pos as double) * cast(n_neg as double)))
                     - 1.0e0, 9) as gini_coeff
        from agg"""


# ---------------------------------------------------------------------------
# Isotonic calibration (pool-adjacent-violators via the minimax identity)
# ---------------------------------------------------------------------------
_ISO_BINS = 10


def _isotonic_sql(d: str) -> str:
    """Isotonic (monotone non-decreasing) calibration of a binned score
    against a binary outcome — PAVA computed by the exact minimax identity
    fit_i = max_{j≤i} min_{k≥i} mean(y[j..k]) (no iteration, provably the
    isotonic regression).  Bins are score deciles (ntile with a doc_id
    tiebreak → fully deterministic); pooled means are exact integer
    ratios quantized to 1e-9 so every min/max is an integer fold.

    Scale: the corpus collapses to B bins once; the minimax runs over
    B·(B+1)/2 prefix pairs — constant work."""
    return f"""
        with base as (
            select doc_id, cast(n_chars as bigint) as score,
                   case when lang = 'en' then 1 else 0 end as y
            from documents
        ),
        binned as (
            select ntile({_ISO_BINS}) over (order by score asc, doc_id asc)
                       as bin, y
            from base
        ),
        bins as (
            select bin, cast(count(*) as bigint) as n,
                   cast(sum(y) as bigint) as pos
            from binned group by bin
        ),
        pre as (
            select bin,
                   cast(sum(n) over (order by bin asc
                        rows between unbounded preceding and current row)
                        as bigint) as cn,
                   cast(sum(pos) over (order by bin asc
                        rows between unbounded preceding and current row)
                        as bigint) as cpos
            from bins
        ),
        seg as (
            select a.bin as j, b.bin as k,
                   cast(floor(cast(b.cpos - coalesce(p.cpos, 0) as double)
                        / cast(b.cn - coalesce(p.cn, 0) as double)
                        * 1000000000.0e0 + 0.5e0) as bigint) as m_q9
            from pre a
            join pre b on b.bin >= a.bin
            left join pre p on p.bin = a.bin - 1
        ),
        innermin as (
            select s.j, i.bin as i, min(s.m_q9) as mn
            from bins i join seg s on s.j <= i.bin and s.k >= i.bin
            group by s.j, i.bin
        ),
        fit as (
            select i, max(mn) as fit_q9 from innermin group by i
        )
        select b.bin, b.n,
               cast(floor(cast(b.pos as double) / cast(b.n as double)
                    * 1000000000.0e0 + 0.5e0) as bigint) as rate_q9,
               f.fit_q9
        from bins b join fit f on f.i = b.bin"""


# ---------------------------------------------------------------------------
# Burstiness of inter-event times per user
# ---------------------------------------------------------------------------
def _burstiness_sql(d: str, min_events: int = 10) -> str:
    """Goh–Barabási burstiness B = (σ−μ)/(σ+μ) of each user's inter-event
    times: B→−1 periodic, ≈0 Poisson, →1 bursty — the one-number temporal
    signature (human activity is bursty; bots are periodic).

    Exactness: deltas are exact integer microseconds (epoch diffs); μ and
    σ come from integer Σδ and Σδ² (population form), B is one double
    expression.  Σδ² ≤ n·(31 days in µs)² ≈ 7e25 — exceeds int64, so
    deltas fold in SECONDS (≤ 2.7e6 s; Σδ² ≤ 7e13 ✓), losing sub-second
    resolution the synthetic minute-scale gaps don't carry.

    Scale: one lag window per user + one groupBy — single user_id
    shuffle."""
    w = "(partition by user_id order by ts asc, event_id asc)"
    # exact integer epoch-µs diff, floored to whole seconds — Spark
    # timestampdiff(SECOND) truncates the interval while DuckDB
    # date_diff('second') counts boundary crossings (they disagree on
    # sub-second phases); the µs-integer route is identical in both
    us = (
        "cast(timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', {t}) as bigint)"
        if d == SPARK
        else "cast(epoch_us({t}) as bigint)"
    )
    idiv = "div" if d == SPARK else "//"
    delta = (
        f"(({us.format(t='ts')} - {us.format(t=f'lag(ts) over {w}')})"
        f" {idiv} 1000000)"
    )
    return f"""
        with deltas as (
            select user_id, {delta} as dt from events
        ),
        agg as (
            select user_id,
                   cast(count(dt) as bigint) as n,
                   cast(sum(dt) as bigint) as s1,
                   cast(sum(dt * dt) as bigint) as s2
            from deltas where dt is not null
            group by user_id
            having count(dt) >= {int(min_events)}
        )
        select user_id, n,
               round(cast(s1 as double) / cast(n as double), 6) as mean_gap_s,
               round((sqrt(greatest(cast(s2 as double) / cast(n as double)
                      - (cast(s1 as double) / cast(n as double))
                        * (cast(s1 as double) / cast(n as double)), 0.0e0))
                      - cast(s1 as double) / cast(n as double))
                     / nullif(sqrt(greatest(cast(s2 as double) / cast(n as double)
                      - (cast(s1 as double) / cast(n as double))
                        * (cast(s1 as double) / cast(n as double)), 0.0e0))
                      + cast(s1 as double) / cast(n as double), 0.0e0), 9)
                   as burstiness
        from agg"""


# ---------------------------------------------------------------------------
# L-moments (robust distribution shape per group)
# ---------------------------------------------------------------------------
def _l_moments_sql(d: str) -> str:
    """Sample L-moments of `value` per event_type (Hosking 1990): l1, l2
    (L-scale), t3 (L-skewness), t4 (L-kurtosis) — the order-statistics
    moments hydrology/finance use where classical skew/kurtosis explode on
    heavy tails.  Direct estimator from probability-weighted moments:
    b_r = (1/n)·Σ_i [C(i−1, r)/C(n−1, r)]·x_(i).

    Exactness: x folds in exact integer cents (×100, the column's own
    precision); the PWM weights C(i−1,r) are INTEGER rank polynomials from
    one row_number (deterministic (value, event_id) order — tie order is
    immaterial: tied x share the same value, and Σ over a tie block of a
    polynomial in i is order-free), so b0..b3 numerators are exact bigint
    sums; the C(n−1,r) denominators and the l/t ratios are one final
    double expression.

    Scale: one rank window per group + one groupBy — single event_type
    shuffle.  The b1..b3 numerators are summed as decimal(38, 0):
    Σ i³·x_cents ≈ n⁴·max_cents / 4 overflows int64 once a group holds
    ~10⁵ rows (it does at sf0.1), and stays below 10³⁸ until ~10⁸ rows
    per group; the cast to double is unchanged."""
    return """
        with base as (
            select event_type,
                   cast(floor(value * 100.0e0 + 0.5e0) as bigint) as xc,
                   event_id
            from events
        ),
        ranked as (
            select event_type, xc,
                   cast(row_number() over (partition by event_type
                        order by xc asc, event_id asc) as bigint) as i
            from base
        ),
        pwm as (
            select event_type,
                   cast(count(*) as bigint) as n,
                   cast(sum(xc) as decimal(38, 0)) as s0,
                   cast(sum(cast(i - 1 as decimal(38, 0)) * xc) as decimal(38, 0)) as s1,
                   cast(sum(cast(i - 1 as decimal(38, 0)) * (i - 2) * xc)
                        as decimal(38, 0)) as s2,
                   cast(sum(cast(i - 1 as decimal(38, 0)) * (i - 2) * (i - 3) * xc)
                        as decimal(38, 0)) as s3
            from ranked group by event_type
        ),
        b as (
            select event_type, n,
                   cast(s0 as double) / cast(n as double) / 100.0e0 as b0,
                   cast(s1 as double) / cast(n as double)
                       / cast(n - 1 as double) / 100.0e0 as b1,
                   cast(s2 as double) / cast(n as double)
                       / cast((n - 1) * (n - 2) as double) / 100.0e0 as b2,
                   cast(s3 as double) / cast(n as double)
                       / cast((n - 1) * (n - 2) * (n - 3) as double) / 100.0e0
                       as b3
            from pwm
        )
        select event_type, n,
               round(b0, 9) as l1,
               round(2.0e0 * b1 - b0, 9) as l2,
               round((6.0e0 * b2 - 6.0e0 * b1 + b0)
                     / nullif(2.0e0 * b1 - b0, 0.0e0), 9) as t3,
               round((20.0e0 * b3 - 30.0e0 * b2 + 12.0e0 * b1 - b0)
                     / nullif(2.0e0 * b1 - b0, 0.0e0), 9) as t4
        from b"""


# ---------------------------------------------------------------------------
# Marketing attribution: first/last touch within a lookback window
# ---------------------------------------------------------------------------
_ATTR_WIN_US = 7 * 86400 * 1_000_000  # 7-day lookback, integer micros


def _attribution_sql(d: str) -> str:
    """Per conversion ('purchase'), the FIRST- and LAST-touch among the
    user's 'click'/'view' events in a 7-day lookback, plus the touch count
    — the single-pass form of first-/last-touch attribution.  (ts, type)
    packs into one bigint (ts_us·2 + type bit), so both extremes are plain
    min/max over a numeric RANGE frame — no struct aggregates, no
    self-join; conversions with no touch in window coalesce to
    ('none', 0).

    Exactness: integer micros and packed bigints end to end; RANGE
    CURRENT ROW includes equal-ts peers identically in both engines, and
    min/max over packed values is total-ordered.

    Scale: ONE user-keyed sort serves all three window aggregates; the
    corpus crosses the shuffle once."""
    # NTZ-safe integer micros (the temporal.py idiom): timestampdiff is
    # timezone-free, matching DuckDB's epoch_us on the same NTZ values
    ts_us = (
        "cast(timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', ts)"
        " as bigint)"
        if d == SPARK
        else "cast(epoch_us(ts) as bigint)"
    )
    win = f"range between {_ATTR_WIN_US} preceding and current row"
    w = f"over (partition by user_id order by ts_us {win})"
    dv = "div" if d == SPARK else "//"
    return f"""
        with ev as (
            select user_id, event_id, event_type, {ts_us} as ts_us
            from events where event_type in ('purchase', 'click', 'view')
        ),
        base as (
            select user_id, event_id, event_type, ts_us,
                   case when event_type in ('click', 'view') then 1 else 0 end
                       as is_touch,
                   case when event_type in ('click', 'view') then
                        ts_us * 2 + (case when event_type = 'view' then 1
                                          else 0 end) end as packed
            from ev
        ),
        wnd as (
            select user_id, event_id, event_type, ts_us,
                   min(case when is_touch = 1 then packed end) {w} as first_p,
                   max(case when is_touch = 1 then packed end) {w} as last_p,
                   sum(is_touch) {w} as n_touches
            from base
        )
        select event_id, user_id, ts_us,
               coalesce(case when first_p % 2 = 1 then 'view'
                             when first_p is not null then 'click' end,
                        'none') as first_touch,
               cast(coalesce(first_p {dv} 2, 0) as bigint) as first_ts_us,
               coalesce(case when last_p % 2 = 1 then 'view'
                             when last_p is not null then 'click' end,
                        'none') as last_touch,
               cast(coalesce(last_p {dv} 2, 0) as bigint) as last_ts_us,
               cast(n_touches as bigint) as n_touches
        from wnd where event_type = 'purchase'"""


# ---------------------------------------------------------------------------
# Kendall tau-b rank correlation per source (completes the rank pair)
# ---------------------------------------------------------------------------
def _kendall_sql(d: str) -> str:
    """Kendall's τ-b with full tie correction over the SAME variable pair
    as spearman (n_chars vs distinct-token count, per source): τ-b =
    (C − D) / sqrt((n0 − n1)(n0 − n2)) with n0 = n(n−1)/2 and n1/n2 the
    x-/y-tie pair counts — the concordance-based complement to Spearman's
    rank-Pearson (τ weights pair ORDER agreement, not rank distance,
    and is the robust choice under heavy ties).

    Exactness: C, D, and every tie count are exact bigints from integer
    comparisons; ONE sqrt of exact integer products and one division at
    the end, rounded to 1e-9.

    Scale: the pairwise join is GROUP-bounded (doc_id_a < doc_id_b within
    source — the Theil-Sen posture, never cross-source); tie counts are
    two dimension-sized aggregates."""
    toks = tx.tokens("text", d)
    ntypes = (
        f"cast(size(array_distinct({toks})) as bigint)"
        if d == SPARK
        else f"cast(len(list_distinct({toks})) as bigint)"
    )
    return f"""
        with base as (
            select source, doc_id, cast(n_chars as bigint) as x, {ntypes} as y
            from documents
        ),
        cd as (
            select a.source,
                   cast(sum(case when (a.x - b.x) * (a.y - b.y) > 0
                            then 1 else 0 end) as bigint) as c_pairs,
                   cast(sum(case when (a.x - b.x) * (a.y - b.y) < 0
                            then 1 else 0 end) as bigint) as d_pairs
            from base a join base b
              on b.source = a.source and a.doc_id < b.doc_id
            group by a.source
        ),
        n_tot as (select source, cast(count(*) as bigint) as n from base group by source),
        tx_ as (
            select source,
                   cast(sum(c * (c - 1) / 2) as bigint) as n1
            from (select source, x, cast(count(*) as bigint) as c
                  from base group by source, x) t group by source
        ),
        ty_ as (
            select source,
                   cast(sum(c * (c - 1) / 2) as bigint) as n2
            from (select source, y, cast(count(*) as bigint) as c
                  from base group by source, y) t group by source
        )
        select n_tot.source, n_tot.n,
               cast(c_pairs - d_pairs as bigint) as c_minus_d,
               round(cast(c_pairs - d_pairs as double)
                     / nullif(sqrt((cast(n_tot.n as double) * cast(n_tot.n - 1 as double) / 2.0e0
                                    - cast(n1 as double))
                                   * (cast(n_tot.n as double) * cast(n_tot.n - 1 as double) / 2.0e0
                                      - cast(n2 as double))),
                              0.0e0), 9) as tau_b
        from n_tot
        join cd on cd.source = n_tot.source
        join tx_ on tx_.source = n_tot.source
        join ty_ on ty_.source = n_tot.source"""


# ---------------------------------------------------------------------------
# Exact exponential smoothing (α = 1/2, binary weights)
# ---------------------------------------------------------------------------
_ES_M = 24  # recency window: weights 2^0 .. 2^(M-2) stay far inside bigint


def _exp_smooth_sql(d: str) -> str:
    """Per-user simple exponential smoothing of `value` (α = 1/2) over the
    last 24 events — the closed form of l_t = α·x_t + (1−α)·l_{t−1} with
    l_1 = x_1, computed EXACTLY: α = 1/2 makes every weight a power of
    two, so the scaled level L = x₁_q + Σ_{j≥2} 2^{j−2}·x_j_q is one
    bigint sum of exact products (values quantized to int 1e-6 first),
    and the final level is an integer rounding division by 2^{m−1} —
    no float average, no pow(), no fold-order dependence anywhere.

    Scale: ONE user-keyed sort serves the ranking window; the weighted
    fold is a map-side-combined bigint sum per user."""
    div = "div" if d == SPARK else "//"
    return f"""
        with ranked as (
            select user_id,
                   cast(floor(value * 1.0e6 + 0.5e0) as bigint) as x_q6,
                   row_number() over (
                       partition by user_id
                       order by ts desc, event_id desc) as r_desc
            from events
        ),
        win as (
            select user_id, x_q6,
                   count(*) over (partition by user_id) as m,
                   cast(count(*) over (partition by user_id) as bigint)
                       - cast(r_desc as bigint) + 1 as j
            from ranked
            where r_desc <= {_ES_M}
        ),
        folded as (
            select user_id,
                   cast(max(m) as bigint) as n_events,
                   cast(sum(case when j = 1 then x_q6
                            else x_q6 * cast(pow(2.0e0, j - 2) as bigint)
                            end) as bigint) as level_scaled
            from win
            group by user_id
        )
        select user_id, n_events, level_scaled,
               cast((level_scaled
                     + (case when n_events > 1
                        then cast(pow(2.0e0, n_events - 2) as bigint)
                        else 0 end))
                    {div} (cast(pow(2.0e0, n_events - 1) as bigint))
                    as bigint) as level_q6
        from folded"""


# ---------------------------------------------------------------------------
# SPRT (Wald sequential probability ratio test per event stream)
# ---------------------------------------------------------------------------
_SPRT_P0, _SPRT_P1 = 0.4, 0.6
_SPRT_ALPHA = 0.05
_SPRT_THRESH = 50.0  # conversion: value > threshold
# log-likelihood increments and decision boundaries as integer 1e-9
# literals (Python-computed — no cross-engine ln())
_L1_Q9 = round(math.log(_SPRT_P1 / _SPRT_P0) * 1.0e9)
_L0_Q9 = round(math.log((1.0 - _SPRT_P1) / (1.0 - _SPRT_P0)) * 1.0e9)
_A_Q9 = round(math.log((1.0 - _SPRT_ALPHA) / _SPRT_ALPHA) * 1.0e9)
_B_Q9 = -_A_Q9


def _sprt_sql(d: str) -> str:
    """Wald SPRT per event_type on the (ts, event_id)-ordered Bernoulli
    stream (conversion = value > 50): cumulative LLR with H0 p=0.4 vs H1
    p=0.6, α=β=0.05.  The LLR is EXACT integer arithmetic — increments
    and boundaries are Python-computed 1e-9 literals, the cumulative sum
    is conv_cum·L1 + nonconv_cum·L0 over window counts — so the crossing
    index is a deterministic integer compare, not a float walk.

    Scale: ONE type-keyed ordered window (the sessionize posture) + one
    aggregate; no self-joins."""
    return f"""
        with obs as (
            select event_type,
                   case when value > {_SPRT_THRESH!r}e0 then 1 else 0 end as x,
                   row_number() over w as i,
                   sum(case when value > {_SPRT_THRESH!r}e0 then 1 else 0 end)
                       over w as conv_cum
            from events
            window w as (partition by event_type order by ts, event_id)
        ),
        llr as (
            select event_type, i,
                   conv_cum * cast({_L1_Q9} as bigint)
                   + (i - conv_cum) * cast({_L0_Q9} as bigint) as llr_q9
            from obs
        )
        select event_type,
               cast(count(*) as bigint) as n_total,
               cast(min(case when llr_q9 >= {_A_Q9} then i end) as bigint)
                   as first_h1_cross,
               cast(min(case when llr_q9 <= {_B_Q9} then i end) as bigint)
                   as first_h0_cross,
               cast(case
                   when coalesce(min(case when llr_q9 >= {_A_Q9} then i end),
                                 9223372036854775807)
                      < coalesce(min(case when llr_q9 <= {_B_Q9} then i end),
                                 9223372036854775807) then 1
                   when coalesce(min(case when llr_q9 <= {_B_Q9} then i end),
                                 9223372036854775807)
                      < coalesce(min(case when llr_q9 >= {_A_Q9} then i end),
                                 9223372036854775807) then -1
                   else 0 end as bigint) as decision
        from llr
        group by event_type"""


# ---------------------------------------------------------------------------
# JSON property extraction + stats
# ---------------------------------------------------------------------------
def _json_stats_sql(d: str) -> str:
    """Per event_type stats of the JSON property ``props.k`` — the
    semi-structured extraction surface (get_json_object / json_extract):
    exact integer count/sum/min/max/distinct on the extracted value.

    Scale: extraction is scan-parallel codegen; one tiny (type) keyed
    aggregate; distinct expands to two-level agg on the same key."""
    k = (
        "cast(get_json_object(props, '$.k') as bigint)"
        if d == SPARK
        else "cast(json_extract(props, '$.k') as bigint)"
    )
    return f"""
        with ext as (select event_type, {k} as k from events)
        select event_type,
               cast(count(*) as bigint) as n_events,
               cast(count(distinct k) as bigint) as n_distinct_k,
               cast(sum(k) as bigint) as sum_k,
               cast(min(k) as bigint) as min_k,
               cast(max(k) as bigint) as max_k
        from ext
        group by event_type"""


# integer MICROSECONDS since epoch: DuckDB's epoch() returns fractional
# seconds whose bigint cast ROUNDS (Spark's timestampdiff truncates) — a
# one-second skew at bin boundaries; epoch_us is integral in both engines
_EP_US = {
    SPARK: "(timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', ts))",
    DUCK: "cast(epoch_us(ts) as bigint)",
}


# ---------------------------------------------------------------------------
# HBOS outlier scoring (histogram-based, log-free inverse-density form)
# ---------------------------------------------------------------------------
_HBOS_TOPK = 20


def _hbos_sql(d: str) -> str:
    """Histogram-based outlier score per event over three features —
    value band (10 bins of 50), hour-of-day (24), day-of-week (7) — in
    the log-free inverse-density form: score = Σ_f ⌊10⁶·N/(cnt_bin·B_f)⌋
    (exact integer; rank-equivalent per feature to HBOS's −log density,
    and free of cross-engine ln()).  Hour/dow derive from integer epoch
    seconds, so no engine calendar convention is involved.  Top-20 by
    (score desc, event_id) — rare value bands in rare time slots float
    up.

    Scale: three tiny histogram aggregates (broadcast back), one scan to
    score, one top-k — the corpus crosses a shuffle only for the final
    TakeOrdered."""
    ep = _EP_US[d]
    div = "div" if d == SPARK else "//"
    vbin = f"least(cast(floor(value / 50.0e0) as bigint), 9)"
    hbin = f"(({ep} {div} 3600000000) % 24)"
    dbin = f"((({ep} {div} 86400000000) + 4) % 7)"
    return f"""
        with feat as (
            select event_id, {vbin} as vb, {hbin} as hb, {dbin} as db
            from events
        ),
        n as (select cast(count(*) as bigint) as n from feat),
        hv as (select vb, cast(count(*) as bigint) as c from feat group by vb),
        hh as (select hb, cast(count(*) as bigint) as c from feat group by hb),
        hd as (select db, cast(count(*) as bigint) as c from feat group by db)
        select f.event_id,
               cast((select n from n) * 1000000 {'div' if d == SPARK else '//'}
                    (hv.c * 10)
                  + (select n from n) * 1000000 {'div' if d == SPARK else '//'}
                    (hh.c * 24)
                  + (select n from n) * 1000000 {'div' if d == SPARK else '//'}
                    (hd.c * 7) as bigint) as score_q6
        from feat f
        join hv on hv.vb = f.vb
        join hh on hh.hb = f.hb
        join hd on hd.db = f.db
        order by score_q6 desc, f.event_id asc
        limit {_HBOS_TOPK}"""


# ---------------------------------------------------------------------------
# Trigram path mining (second-order user journeys)
# ---------------------------------------------------------------------------
_PT_TOPK = 20


def _path_trigrams_sql(d: str) -> str:
    """Top-20 event-type TRIGRAMS over user timelines — the second-order
    journey statistic the first-order `transitions` matrix can't express
    (A→B→C vs A→B→D splits only at order 2).  Deterministic total order
    (ts, event_id); ties in counts broken lexicographically.

    Scale: ONE user-keyed ordered window serves both lags; one
    map-side-combined count over the tiny type³ space; TakeOrdered
    closes it."""
    return f"""
        with seq as (
            select lag(event_type, 2) over w as t1,
                   lag(event_type, 1) over w as t2,
                   event_type as t3
            from events
            window w as (partition by user_id order by ts, event_id)
        )
        select t1, t2, t3, cast(count(*) as bigint) as n
        from seq
        where t1 is not null and t2 is not null
        group by t1, t2, t3
        order by n desc, t1 asc, t2 asc, t3 asc
        limit {_PT_TOPK}"""


_CONV_THRESH = 50.0


# ---------------------------------------------------------------------------
# CUPED (controlled-experiment variance reduction, Deng et al. 2013)
# ---------------------------------------------------------------------------
def _cuped_sql(d: str) -> str:
    """CUPED-adjusted arm means: each user's timeline splits at its median
    event (pre-period covariate x = mean value of the first half, outcome
    y = mean value of the second half); θ = cov(x,y)/var(x) over users;
    the adjusted outcome is y − θ(x − x̄).  Per arm (the ab_test hash
    split) the output carries n, the raw and adjusted means, θ and the
    theoretical variance-reduction factor ρ² = θ²·var(x)/var(y).

    Exactness: per-user means are INTEGER-quantized ((Σq6 div n) div
    1000 → 1e-3 units) before any cross-user moment, so Σx, Σx², Σxy,
    Σy, Σy² are exact bigints; θ, the adjusted means, and ρ² are one
    fixed float sequence over those integers, rounded 1e-9.

    Scale: one user-keyed two-phase aggregate (median split via one
    ordered window), one global-moment aggregate broadcast back, one
    2-row arm aggregate — the corpus crosses a shuffle twice."""
    arm_key = concat_str(["'ab:'", "cast(user_id as string)"], d)
    arm = f"({phash60(arm_key, d)}) % 2"
    div = "div" if d == SPARK else "//"
    xq = "cast(floor(value * 1.0e6 + 0.5e0) as bigint)"
    return f"""
        with ranked as (
            select user_id, {arm} as arm, {xq} as v_q6,
                   row_number() over (partition by user_id
                                      order by ts, event_id) as i,
                   count(*) over (partition by user_id) as m
            from events
        ),
        per_user as (
            select user_id, arm,
                   ((sum(case when i * 2 <= m then v_q6 end)
                     {div} nullif(sum(case when i * 2 <= m then 1 end), 0))
                    {div} 1000) as x_q3,
                   ((sum(case when i * 2 > m then v_q6 end)
                     {div} nullif(sum(case when i * 2 > m then 1 end), 0))
                    {div} 1000) as y_q3
            from ranked
            group by user_id, arm
        ),
        u as (
            select user_id, arm, cast(x_q3 as bigint) as x,
                   cast(y_q3 as bigint) as y
            from per_user where x_q3 is not null and y_q3 is not null
        ),
        mom as (
            select cast(count(*) as bigint) as n,
                   cast(sum(x) as bigint) as sx,
                   cast(sum(y) as bigint) as sy,
                   cast(sum(x * x) as bigint) as sxx,
                   cast(sum(y * y) as bigint) as syy,
                   cast(sum(x * y) as bigint) as sxy
            from u
        ),
        theta as (
            select n, sx, sy,
                   (cast(n as double) * cast(sxy as double)
                    - cast(sx as double) * cast(sy as double))
                   / (cast(n as double) * cast(sxx as double)
                      - cast(sx as double) * cast(sx as double)) as th,
                   (cast(n as double) * cast(sxx as double)
                    - cast(sx as double) * cast(sx as double)) as vx_n2,
                   (cast(n as double) * cast(syy as double)
                    - cast(sy as double) * cast(sy as double)) as vy_n2
            from mom
        )
        select u.arm,
               cast(count(*) as bigint) as n_users,
               cast(sum(u.y) as bigint) as sum_y_q3,
               round(cast(sum(u.y) as double) / cast(count(*) as double)
                     - t.th * (cast(sum(u.x) as double)
                               / cast(count(*) as double)
                               - cast(t.sx as double) / cast(t.n as double)),
                     9) as adj_mean_q3,
               round(t.th, 9) as theta,
               round(t.th * t.th * t.vx_n2 / t.vy_n2, 9) as rho_sq
        from u cross join theta t
        group by u.arm, t.th, t.vx_n2, t.vy_n2, t.sx, t.n"""


# ---------------------------------------------------------------------------
# Empirical-Bayes rate shrinkage (beta-binomial, method of moments)
# ---------------------------------------------------------------------------
def _eb_sql(d: str) -> str:
    """Per-user conversion rates shrunk toward a beta prior fit by the
    method of moments on the observed user rates (the standard
    small-sample stabilizer for leaderboards / CTR tables): α, β from the
    rate mean/variance, shrunk rate = (x + α)/(n + α + β).

    Exactness: user rates are integer 1e-6 quantities ((conv·10⁶) div n),
    so the rate moments Σr, Σr² are exact bigints; m, v, α, β and the
    shrunk rate are one fixed float sequence over exact integers, rounded
    1e-9.

    Scale: one user-keyed aggregate, one 1-row moment broadcast, one
    scoring projection — two corpus shuffles."""
    div = "div" if d == SPARK else "//"
    conv = f"case when value > {_CONV_THRESH!r}e0 then 1 else 0 end"
    return f"""
        with per_user as (
            select user_id,
                   cast(count(*) as bigint) as n,
                   cast(sum({conv}) as bigint) as x
            from events
            group by user_id
        ),
        rated as (
            select user_id, n, x,
                   cast((x * 1000000) {div} n as bigint) as r_q6
            from per_user
        ),
        mom as (
            select cast(count(*) as bigint) as g,
                   cast(sum(r_q6) as bigint) as sr,
                   cast(sum(r_q6 * r_q6) as bigint) as srr
            from rated
        ),
        prior as (
            select
                (cast(sr as double) / cast(g as double)) / 1.0e6 as m,
                ((cast(srr as double) - cast(sr as double)
                  * cast(sr as double) / cast(g as double))
                 / cast(g - 1 as double)) / 1.0e12 as v
            from mom
        ),
        ab as (
            select m, v,
                   m * (m * (1.0e0 - m) / v - 1.0e0) as alpha,
                   (1.0e0 - m) * (m * (1.0e0 - m) / v - 1.0e0) as beta
            from prior
        )
        select r.user_id, r.n, r.x, r.r_q6,
               round((cast(r.x as double) + a.alpha)
                     / (cast(r.n as double) + a.alpha + a.beta), 9)
                   as shrunk_rate,
               round(a.alpha, 9) as alpha,
               round(a.beta, 9) as beta
        from rated r cross join ab a"""


# ---------------------------------------------------------------------------
# t-closeness audit (Li, Li & Venkatasubramanian 2007)
# ---------------------------------------------------------------------------
_TC_T_NUM, _TC_T_DEN = 3, 10  # t = 0.3


def _t_closeness_sql(d: str) -> str:
    """t-closeness audit of the same anonymization ladder `kanon` /
    `l_diversity` grade — QI = nation × 1000-unit balance band (the kanon
    ladder's COARSE level: classes big enough at every SF that both audit
    outcomes occur, pytest-pinned), sensitive = market segment.  Per
    equivalence class, the total-variation distance
    between the class's sensitive-value distribution and the global one
    (the categorical form of the paper's EMD), and whether it is within
    t = 0.3 — the skew-attack surface l-diversity misses (a class can be
    l-diverse yet heavily skewed toward one sensitive value).

    Exactness: TVD = ½·Σ|p_i − q_i| is carried as the exact integer
    numerator Σ|cnt_i·N − g_i·n_c| over denominator 2·n_c·N; the t test
    cross-multiplies (num·10 ≤ 3·2·n_c·N), so no float distribution math
    exists.  The distribution grid is built classes × ALL global
    segments with zero-coalesce — absent segments contribute their full
    |0 − q_i| mass (the jsd_drift p=0 lesson, ADVICE r4).

    Scale: one QI-keyed aggregate (dimension-sized classes), one tiny
    segment-list broadcast grid, one class-keyed fold."""
    return f"""
        with seg as (
            select c_mktsegment as s, cast(count(*) as bigint) as g
            from customer group by c_mktsegment
        ),
        tot as (select cast(sum(g) as bigint) as big_n from seg),
        cls as (
            select c_nationkey as qi_nat,
                   cast(floor(c_acctbal / 1000.0e0) as bigint) as qi_band,
                   c_mktsegment as s, cast(count(*) as bigint) as cnt
            from customer
            group by c_nationkey, floor(c_acctbal / 1000.0e0), c_mktsegment
        ),
        csize as (
            select qi_nat, qi_band, cast(sum(cnt) as bigint) as n_c
            from cls group by qi_nat, qi_band
        ),
        grid as (
            select cs.qi_nat, cs.qi_band, cs.n_c, seg.s, seg.g,
                   coalesce(c.cnt, 0) as cnt
            from csize cs
            cross join seg
            left join cls c on c.qi_nat = cs.qi_nat
                 and c.qi_band = cs.qi_band and c.s = seg.s
        )
        select g.qi_nat, g.qi_band,
               cast(max(g.n_c) as bigint) as n_c,
               cast(sum(abs(g.cnt * t.big_n - g.g * g.n_c)) as bigint)
                   as tvd_num,
               round(cast(sum(abs(g.cnt * t.big_n - g.g * g.n_c)) as double)
                     / (2.0e0 * cast(max(g.n_c) as double)
                        * cast(t.big_n as double)), 9) as tvd,
               cast(case when sum(abs(g.cnt * t.big_n - g.g * g.n_c))
                              * {_TC_T_DEN}
                         <= {_TC_T_NUM} * 2 * max(g.n_c) * t.big_n
                    then 1 else 0 end as bigint) as is_t_close
        from grid g cross join tot t
        group by g.qi_nat, g.qi_band, t.big_n"""


# ---------------------------------------------------------------------------
# Brier score decomposition (Murphy 1973)
# ---------------------------------------------------------------------------
_BR_BINS = 10


def _brier_sql(d: str) -> str:
    """Murphy's decomposition of the Brier score — reliability −
    resolution + uncertainty — for the in-sample predictor "user's own
    conversion rate" against per-event outcomes (value > 50), over 10
    probability bins: the forecast-quality triptych that says WHY a
    probabilistic score is what it is (miscalibration vs missing
    discrimination vs irreducible base-rate noise).

    Exactness: predictions are the integer 1e-3 user rates ((x·10³) div
    n); every bin moment (counts, Σp, Σy) is an exact bigint; the bin
    means enter the quadratics as integer 1e-6 quantities (truncated
    integer division — deterministic, documented), so both numerators
    Σ n_k·(p̄_k − ȳ_k)² and Σ n_k·(ȳ_k − ȳ)² fold as exact bigints whose
    magnitude stays ≤ 10¹²·N (bigint-safe through SF 1) — no double ever
    folds across bins; the final components are one float division each,
    rounded 1e-9.

    Scale: one user aggregate (broadcast back to events), one bin
    aggregate, one 10-row fold — the corpus crosses two shuffles."""
    div = "div" if d == SPARK else "//"
    conv = f"case when value > {_CONV_THRESH!r}e0 then 1 else 0 end"
    return f"""
        with per_user as (
            select user_id,
                   cast((sum({conv}) * 1000) {div} count(*) as bigint)
                       as p_q3
            from events group by user_id
        ),
        obs as (
            select least(cast(u.p_q3 {div} 100 as bigint),
                         {_BR_BINS - 1}) as bin,
                   u.p_q3, cast({conv} as bigint) as y
            from events e join per_user u on u.user_id = e.user_id
        ),
        bins as (
            select bin,
                   cast(count(*) as bigint) as n_k,
                   cast(sum(p_q3) as bigint) as sp,
                   cast(sum(y) as bigint) as sy
            from obs group by bin
        ),
        tot as (
            select cast(sum(n_k) as bigint) as n,
                   cast(sum(sy) as bigint) as y_all
            from bins
        ),
        means as (
            select b.n_k,
                   cast((b.sp * 1000) {div} b.n_k as bigint) as pb_q6,
                   cast((b.sy * 1000000) {div} b.n_k as bigint) as yb_q6,
                   cast((t.y_all * 1000000) {div} t.n as bigint) as y_q6,
                   t.n, t.y_all
            from bins b cross join tot t
        ),
        nums as (
            select cast(max(n) as bigint) as n,
                   cast(max(y_all) as bigint) as y_all,
                   cast(sum(n_k * (pb_q6 - yb_q6) * (pb_q6 - yb_q6))
                        as bigint) as rel_num,
                   cast(sum(n_k * (yb_q6 - y_q6) * (yb_q6 - y_q6))
                        as bigint) as res_num
            from means
        )
        select n,
               round(cast(rel_num as double)
                     / (1.0e12 * cast(n as double)), 9) as reliability,
               round(cast(res_num as double)
                     / (1.0e12 * cast(n as double)), 9) as resolution,
               round(cast(y_all as double) * cast(n - y_all as double)
                     / (cast(n as double) * cast(n as double)), 9)
                   as uncertainty,
               round(cast(rel_num as double) / (1.0e12 * cast(n as double))
                     - cast(res_num as double)
                       / (1.0e12 * cast(n as double))
                     + cast(y_all as double) * cast(n - y_all as double)
                       / (cast(n as double) * cast(n as double)), 9)
                   as brier_recomposed
        from nums"""


# ---------------------------------------------------------------------------
# A/B power analysis (required sample size from observed variance)
# ---------------------------------------------------------------------------
_PW_Z_ALPHA = 1.959963984540054  # Φ⁻¹(0.975), two-sided α = 0.05
_PW_Z_BETA = 0.8416212335729143  # Φ⁻¹(0.80), power = 0.80
_PW_MDE_PCT = 5  # minimum detectable effect: 5% of the current mean


def _power_sql(d: str) -> str:
    """Per event_type: the per-arm sample size a two-sample test needs to
    detect a 5%-of-mean shift at α=0.05 (two-sided) with 80% power —
    n = 2(z_{α/2}+z_β)²σ²/δ² — the planning number every experiment
    review asks for next to the `ab_test` readout.  The normal quantiles
    are Python literals (no cross-engine inverse-CDF); σ² and the mean
    come from exact integer moments of 1e-3-quantized values (q6 squared
    sums would leave bigint at SF ≥ 0.01 — measured); n is one fixed
    float sequence ceil'd to an exact integer.

    Scale: one type-keyed moment aggregate — a single map-side-combined
    pass."""
    xq = "cast(floor(value * 1.0e3 + 0.5e0) as bigint)"
    z2 = (_PW_Z_ALPHA + _PW_Z_BETA) ** 2
    return f"""
        with mom as (
            select event_type,
                   cast(count(*) as bigint) as n,
                   cast(sum({xq}) as bigint) as sx,
                   cast(sum({xq} * {xq}) as bigint) as sxx
            from events group by event_type
        )
        select event_type, n,
               round((cast(sxx as double) - cast(sx as double)
                      * cast(sx as double) / cast(n as double))
                     / cast(n - 1 as double) / 1.0e6, 9) as variance,
               round(cast(sx as double) / cast(n as double) / 1.0e3, 9)
                   as mean,
               cast(ceil(2.0e0 * {z2!r}e0
                    * ((cast(sxx as double) - cast(sx as double)
                        * cast(sx as double) / cast(n as double))
                       / cast(n - 1 as double))
                    / ((cast(sx as double) / cast(n as double))
                       * {_PW_MDE_PCT / 100.0!r}e0
                       * (cast(sx as double) / cast(n as double))
                       * {_PW_MDE_PCT / 100.0!r}e0)) as bigint)
                   as n_per_arm
        from mom"""


# ---------------------------------------------------------------------------
# Quantile normalization (map each batch onto the global distribution)
# ---------------------------------------------------------------------------
def _qnorm_sql(d: str) -> str:
    """Quantile-normalize event values across batches (event_type stands
    in for the batch): each observation's within-batch rank maps to the
    global value at the same quantile — the batch-effect remover
    bioinformatics and feature-store pipelines standardize with.  Exact
    integers end to end: ranks are row_numbers with (value, event_id)
    tie order, the target index is the integer ⌈r·N / n_b⌉ (cross-
    multiplied ceil-div: (r·N + n_b − 1) div n_b), and values are 1e-6
    quantized.

    Scale: the per-batch rank is a batch-partitioned window; the GLOBAL
    rank is computed in the distributed two-level form — rank within a
    value bucket (bucket-partitioned window) plus the cumulative count
    of earlier buckets (a window over the tiny bucket table) — so no
    single-partition global sort exists anywhere (WindowExec's
    "no partition defined" anti-pattern, deliberately avoided); one
    equi-join on the computed index closes it."""
    div = "div" if d == SPARK else "//"
    xq = "cast(floor(value * 1.0e6 + 0.5e0) as bigint)"
    bucket = f"(({xq}) {div} 10000000)"
    return f"""
        with ranked as (
            select event_id, event_type, {xq} as v_q6,
                   cast(row_number() over (
                       partition by event_type
                       order by {xq} asc, event_id asc) as bigint) as r,
                   cast(count(*) over (partition by event_type) as bigint)
                       as n_b
            from events
        ),
        bcnt as (
            select {bucket} as b, cast(count(*) as bigint) as c
            from events group by {bucket}
        ),
        boff as (
            select b, cast(coalesce(sum(c) over (
                       order by b asc rows between unbounded preceding
                       and 1 preceding), 0) as bigint) as off
            from bcnt
        ),
        gq as (
            select {xq} as g_q6, {bucket} as b,
                   cast(row_number() over (
                       partition by {bucket}
                       order by {xq} asc, event_id asc) as bigint) as br
            from events
        ),
        gr as (
            select g.g_q6, o.off + g.br as grk
            from gq g join boff o on o.b = g.b
        ),
        n as (select cast(count(*) as bigint) as big_n from events)
        select rk.event_id, rk.event_type, rk.v_q6,
               g.g_q6 as norm_q6
        from ranked rk
        cross join n
        join gr g on g.grk = ((rk.r * n.big_n + rk.n_b - 1) {div} rk.n_b)"""


# ---------------------------------------------------------------------------
# Median polish (Tukey 1977) of the dow × hour matrix
# ---------------------------------------------------------------------------
def _lower_median(part: str, val: str, alias: str) -> str:
    """LOWER median per group as an order-statistic selection — exact,
    deterministic, no float interpolation (the even-count convention is
    documented: element ⌈n/2⌉ in (value, tie) order)."""
    return f"""
            select {part}, {val} as {alias} from (
                select {part}, {val},
                       row_number() over (partition by {part}
                                          order by {val} asc) as rn,
                       count(*) over (partition by {part}) as cnt
                from __SRC__
            ) s where rn = (cnt + 1) {{div}} 2"""


def _median_polish_sql(d: str) -> str:
    """Two-sweep Tukey median polish of mean event value per (day-of-week
    × hour-of-day): alternately remove row (dow) and column (hour)
    LOWER-median effects, leaving a residual matrix robust to outlier
    cells — the calendar-effects decomposition mean-based models get
    wrong under heavy tails.  Cell means are truncated integer 1e-3
    quantities; every median is an exact order-statistic selection, so
    effects and residuals are exact integers end to end.

    Scale: one (dow, hour) aggregate off the corpus (168 cells), then
    four window selections over the tiny matrix — corpus crosses one
    shuffle."""
    div = "div" if d == SPARK else "//"
    ep = _EP_US[d]
    med = lambda part, val, alias, src: (
        _lower_median(part, val, alias).replace("__SRC__", src)
        .replace("{div}", div)
    )
    return f"""
        with cells as (
            select ((({ep} {div} 86400000000) + 4) % 7) as dow,
                   (({ep} {div} 3600000000) % 24) as hr,
                   cast((sum(cast(floor(value * 1.0e6 + 0.5e0) as bigint))
                         {div} count(*)) {div} 1000 as bigint) as v_q3
            from events
            group by (({ep} {div} 86400000000) + 4) % 7,
                     ({ep} {div} 3600000000) % 24
        ),
        r1 as ({med('dow', 'v_q3', 'r_eff1', 'cells')}),
        res1 as (
            select c.dow, c.hr, c.v_q3, r.r_eff1,
                   c.v_q3 - r.r_eff1 as v1
            from cells c join r1 r on r.dow = c.dow
        ),
        c1 as ({med('hr', 'v1', 'c_eff1', 'res1')}),
        res2 as (
            select a.dow, a.hr, a.v_q3, a.r_eff1, b.c_eff1,
                   a.v1 - b.c_eff1 as v2
            from res1 a join c1 b on b.hr = a.hr
        ),
        r2 as ({med('dow', 'v2', 'r_eff2', 'res2')}),
        res3 as (
            select a.dow, a.hr, a.v_q3, a.r_eff1, a.c_eff1, b.r_eff2,
                   a.v2 - b.r_eff2 as v3
            from res2 a join r2 b on b.dow = a.dow
        ),
        c2 as ({med('hr', 'v3', 'c_eff2', 'res3')})
        select cast(a.dow as bigint) as dow, cast(a.hr as bigint) as hr,
               a.v_q3,
               cast(a.r_eff1 + a.r_eff2 as bigint) as row_eff_q3,
               cast(a.c_eff1 + b.c_eff2 as bigint) as col_eff_q3,
               cast(a.v3 - b.c_eff2 as bigint) as residual_q3
        from res3 a join c2 b on b.hr = a.hr"""


# ---------------------------------------------------------------------------
# Seasonal-naive forecast backtest
# ---------------------------------------------------------------------------
def _backtest_sql(d: str) -> str:
    """Backtest of the two zero-parameter forecasting baselines on daily
    event counts per type — naive (ŷ_t = y_{t−1}) vs seasonal-naive
    (ŷ_t = y_{t−7}) — the sanity floor every forecasting deployment must
    beat before a model earns its keep.  Errors are exact integer count
    differences; the winner flag is an integer cross-comparison of the
    two absolute-error sums over the SAME evaluation days (both
    predecessors present).

    Scale: one (type, day) count aggregate + two self-joins on the
    integer day index (no window over a global sort) + a type-keyed
    fold."""
    div = "div" if d == SPARK else "//"
    ep = _EP_US[d]
    return f"""
        with daily as (
            select event_type, ({ep} {div} 86400000000) as day,
                   cast(count(*) as bigint) as y
            from events group by event_type, ({ep} {div} 86400000000)
        ),
        eval_days as (
            select t.event_type, t.day, t.y,
                   n.y as y_naive, s.y as y_seasonal
            from daily t
            join daily n on n.event_type = t.event_type
                 and n.day = t.day - 1
            join daily s on s.event_type = t.event_type
                 and s.day = t.day - 7
        )
        select event_type,
               cast(count(*) as bigint) as n_eval_days,
               cast(sum(abs(y - y_naive)) as bigint) as ae_naive,
               cast(sum(abs(y - y_seasonal)) as bigint) as ae_seasonal,
               cast(case when sum(abs(y - y_seasonal))
                              < sum(abs(y - y_naive)) then 1
                         when sum(abs(y - y_seasonal))
                              > sum(abs(y - y_naive)) then -1
                         else 0 end as bigint) as seasonal_wins
        from eval_days
        group by event_type"""


def _streaks_sql(d: str) -> str:
    """Per user: longest and current consecutive-active-day streak plus
    the island count — the retention statistic product dashboards lead
    with, via the canonical gaps-and-islands identity (island id =
    day − dense_rank over distinct active days, constant within each
    consecutive run).  Day indexes are exact integers from epoch micros,
    so island membership is a pure integer equality; "current" means the
    island containing the user's last active day.

    Scale: one distinct (user, day) aggregate + ONE user-keyed ordered
    window + one island aggregate — the sessionize posture on the day
    grain."""
    div = "div" if d == SPARK else "//"
    ep = _EP_US[d]
    return f"""
        with days as (
            select distinct user_id, ({ep} {div} 86400000000) as day
            from events
        ),
        isl as (
            select user_id, day,
                   day - (row_number() over (
                       partition by user_id order by day asc)) as island
            from days
        ),
        runs as (
            select user_id, island,
                   cast(count(*) as bigint) as len,
                   cast(max(day) as bigint) as last_day
            from isl group by user_id, island
        ),
        last_active as (
            select user_id, cast(max(day) as bigint) as last_day
            from days group by user_id
        )
        select r.user_id,
               cast(count(*) as bigint) as n_streaks,
               cast(max(r.len) as bigint) as longest_streak,
               cast(sum(case when r.last_day = la.last_day
                        then r.len else 0 end) as bigint) as current_streak
        from runs r
        join last_active la on la.user_id = r.user_id
        group by r.user_id"""


QUERIES = {
    "events_window": (q_events_window, q_events_window_oracle),
    "events_sessionize": sql_query(_sessionize_sql),
    "events_rollup": sql_query(_rollup_events_sql),
    "events_quantiles": (q_events_quantiles, q_events_quantiles_oracle),
    "events_asof": (q_events_asof, q_events_asof_oracle),
    "hll_distinct": sql_query(_hll_distinct_sql),
    "cms_frequencies": sql_query(_cms_sql),
    "trend_fit": (q_trend_fit, q_trend_fit_oracle),
    "hll_setops": sql_query(_hll_setops_sql),
    "funnel": (q_funnel, q_funnel_oracle),
    "gap_fill": (q_gap_fill, q_gap_fill_oracle),
    "hist_quantiles": sql_query(_hist_quantiles_sql),
    "anomaly": sql_query(_anomaly_sql),
    "robust_anomaly": sql_query(_robust_anomaly_sql),
    "ab_test": sql_query(_ab_test_sql),
    "logreg": sql_query(regression.logreg_gd_sql),
    "target_encode": sql_query(_target_encode_sql),
    "winsorize": sql_query(_winsorize_sql),
    "incremental_rollup": sql_query(_incremental_rollup_sql),
    "eqfreq_bins": sql_query(_eqfreq_bins_sql),
    "cohort": sql_query(_cohort_sql),
    "transitions": sql_query(_transitions_sql),
    "interval_merge": (q_interval_merge, q_interval_merge_oracle),
    "rolling_stats": sql_query(_rolling_stats_sql),
    "ridge_fit": sql_query(_ridge_fit_sql),
    "profile": sql_query(_profile_sql),
    "headways": sql_query(_headways_sql),
    "return_gaps": sql_query(_return_gaps_sql),
    "quantile_rank": sql_query(_quantile_rank_sql),
    "benford": sql_query(_benford_sql),
    "haar_energy": sql_query(_haar_energy_sql),
    "churn_labels": sql_query(_churn_labels_sql),
    "autocorr": sql_query(_autocorr_sql),
    "logreg_calibration": sql_query(regression.logreg_calibration_sql),
    "weighted_median": sql_query(_weighted_median_sql),
    "theil_sen": sql_query(_theil_sen_sql),
    "stump": sql_query(_stump_sql),
    "kaplan_meier": sql_query(_kaplan_meier_sql),
    "gini": sql_query(_gini_sql),
    "poisson_bootstrap": sql_query(_poisson_bootstrap_sql),
    "stationary": sql_query(_stationary_sql),
    "seasonal": sql_query(_seasonal_sql),
    "peaks": sql_query(_peaks_sql),
    "cramers_v": sql_query(_cramers_v_sql),
    "cusum": sql_query(_cusum_sql),
    "kanon": sql_query(_kanon_sql),
    "spearman": sql_query(_spearman_sql),
    "mannwhitney": sql_query(_mannwhitney_sql),
    "jsd_drift": sql_query(_jsd_sql),
    "l_diversity": sql_query(_l_diversity_sql),
    "kruskal_wallis": sql_query(_kruskal_sql),
    "auc_roc": sql_query(_auc_sql),
    "isotonic_calibration": sql_query(_isotonic_sql),
    "burstiness": sql_query(_burstiness_sql),
    "l_moments": sql_query(_l_moments_sql),
    "attribution": sql_query(_attribution_sql),
    "kendall_tau": sql_query(_kendall_sql),
    "exp_smooth": sql_query(_exp_smooth_sql),
    "sprt": sql_query(_sprt_sql),
    "json_extract_stats": sql_query(_json_stats_sql),
    "hbos_outliers": sql_query(_hbos_sql),
    "path_trigrams": sql_query(_path_trigrams_sql),
    "cuped": sql_query(_cuped_sql),
    "eb_shrinkage": sql_query(_eb_sql),
    "t_closeness": sql_query(_t_closeness_sql),
    "brier_decomp": sql_query(_brier_sql),
    "power_analysis": sql_query(_power_sql),
    "quantile_norm": sql_query(_qnorm_sql),
    "median_polish": sql_query(_median_polish_sql),
    "forecast_backtest": sql_query(_backtest_sql),
    "user_streaks": sql_query(_streaks_sql),
}
