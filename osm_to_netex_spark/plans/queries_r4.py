"""Round-4 query additions (SURVEY §2.3 `(r4)` rows).

Same landing discipline as every registry entry (LANDING.md): dual-dialect
SQL from one builder, integer-quantized folds (floats only at IEEE-exact
edges: one final division, correctly-rounded sqrt, per-term-quantized ln),
scalar bigint/double output columns, identical aliases both dialects.

Registered into plans.queries.QUERIES via ``register_r4`` (called before
the driver-window rotation); Spark builders late-import plans.queries for
the shared view helpers, so there is no import cycle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions import text as tx
from ..functions.portable import DUCK, SPARK


def _views(spark: SparkSession, sf_dir: str) -> None:
    from . import queries as q

    q.register_geometry_views(spark, sf_dir)


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


def q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir)
    return spark.sql(_spearman_sql(SPARK))


def q_spearman_oracle() -> str:
    return _spearman_sql(DUCK)


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


def q_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir)
    return spark.sql(_mannwhitney_sql(SPARK))


def q_mannwhitney_oracle() -> str:
    return _mannwhitney_sql(DUCK)


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


def q_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir)
    return spark.sql(_jsd_sql(SPARK))


def q_jsd_oracle() -> str:
    return _jsd_sql(DUCK)


# ---------------------------------------------------------------------------
# Global Geary's C over quad-cell event-point counts
# ---------------------------------------------------------------------------
def _gearys_c_sql(d: str, res: int = 11) -> str:
    """Geary's C with rook+diagonal (3×3 ring) binary weights over occupied
    res-11 quad cells (the same study grid as moran/hotspot) — the pair-difference complement to Moran's I (I is
    covariance-based and dominated by high-value pairs; C reacts to LOCAL
    differences, catching fine-grained heterogeneity I smooths over).

    C = (n−1)·Σ w_ij (x_i−x_j)² / (2W · Σ(x_i−x̄)²); multiplying through by
    n makes every term integer: C = n(n−1)·num / (2W·(n·sxx − sx²)) — one
    double division of exact-int casts (all ≪ 2^53 at these corpus sizes).

    Scale: identical shape to moran/hotspot — corpus collapses to the cell
    table once; ring join + 1-row aggregate run over CELLS."""
    from ..functions import geo

    from . import queries as q

    ix, iy = geo.quad_ixy("lat", "lon", res, d)
    pts = "geo_points" if d == SPARK else f"({q.points_sql(DUCK)})"
    ring = (
        "select cx + dx as tx, cy + dy as ty, cnt as xj from (select cx, cy, cnt,"
        " explode(sequence(-1, 1)) as dx from counts) a"
        " lateral view explode(sequence(-1, 1)) t as dy where dx <> 0 or dy <> 0"
        if d == SPARK
        else "select cx + dx.x as tx, cy + dy.y as ty, cnt as xj from counts,"
        " unnest(generate_series(-1, 1)) dx(x), unnest(generate_series(-1, 1)) dy(y)"
        " where dx.x <> 0 or dy.y <> 0"
    )
    return f"""
        with pts as (select lat, lon from {pts}),
        counts as (select {ix} as cx, {iy} as cy, cast(count(*) as bigint) as cnt
                   from pts group by 1, 2),
        ring as ({ring}),
        pairs as (
            select cast(sum((c.cnt - r.xj) * (c.cnt - r.xj)) as bigint) as num,
                   cast(count(*) as bigint) as w
            from counts c join ring r on r.tx = c.cx and r.ty = c.cy
        ),
        gstats as (
            select cast(count(*) as bigint) as nn,
                   cast(sum(cnt) as bigint) as sx,
                   cast(sum(cnt * cnt) as bigint) as sxx
            from counts
        )
        select nn, w, num,
               round(cast(nn as double) * cast(nn - 1 as double)
                     * cast(num as double)
                     / nullif(2.0e0 * cast(w as double)
                              * (cast(nn as double) * cast(sxx as double)
                                 - cast(sx as double) * cast(sx as double)),
                              0.0e0), 9) as geary_c
        from pairs cross join gstats"""


def q_gearys_c(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir)
    return spark.sql(_gearys_c_sql(SPARK))


def q_gearys_c_oracle() -> str:
    return _gearys_c_sql(DUCK)


# ---------------------------------------------------------------------------
# Link prediction: common neighbors + Adamic–Adar on the doc graph
# ---------------------------------------------------------------------------
def _link_predict_sql(d: str, min_cn: int = 2) -> str:
    """Missing-link scores over the deterministic doc graph
    (operators.graph.edges_sql): for every non-adjacent pair reachable in
    two hops, common-neighbor count and Adamic–Adar Σ 1/ln(deg z) — the
    classic local link predictors (Liben-Nowell & Kleinberg 2003).

    Exactness: cn is a count; each wedge's 1/ln(deg) is quantized to 1e9
    units before the integer fold (deg ≥ 2 for any wedge middle, so ln>0).

    Scale: wedges come from the und-edge self-join keyed on the middle
    vertex — Θ(Σ deg²), the inherent wedge count (hub degree is bounded by
    the graph's own HUB_MOD skew design; AQE splits residual skew); the
    adjacency anti-join and the deg join are edge-list-sized."""
    from ..operators.graph import edges_sql

    base = edges_sql(d)
    return f"""
        with raw as ({base}),
        und as (
            select distinct least(src, dst) as a, greatest(src, dst) as b
            from raw where src <> dst
        ),
        deg as (
            select v, cast(count(*) as bigint) as deg from (
                select a as v from und union all select b as v from und
            ) t group by v
        ),
        wedge as (
            select e1.o as doc_a, e2.o as doc_b, e1.z as z
            from (select a as z, b as o from und union all
                  select b as z, a as o from und) e1
            join (select a as z, b as o from und union all
                  select b as z, a as o from und) e2
              on e1.z = e2.z and e1.o < e2.o
        ),
        scored as (
            select w.doc_a, w.doc_b,
                   cast(count(*) as bigint) as cn,
                   cast(sum(cast(floor(1000000000.0e0 / ln(cast(dg.deg as double))
                            + 0.5e0) as bigint)) as bigint) as aa_q9
            from wedge w join deg dg on dg.v = w.z
            group by w.doc_a, w.doc_b
        )
        select s.doc_a, s.doc_b, s.cn, s.aa_q9
        from scored s
        left join und u on u.a = s.doc_a and u.b = s.doc_b
        where u.a is null and s.cn >= {min_cn}"""


def q_link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir)
    return spark.sql(_link_predict_sql(SPARK))


def q_link_predict_oracle() -> str:
    return _link_predict_sql(DUCK)


# ---------------------------------------------------------------------------
# Interleaved media-span context (nearest text spans in document order)
# ---------------------------------------------------------------------------
def _media_context_sql(d: str) -> str:
    """For every media span in the interleaved fixture corpus: the position
    and offset of the nearest PRECEDING and FOLLOWING text span in span
    order — the caption/alt-text pairing primitive a multimodal dataloader
    keys on (input_hint's spans column, per-doc order preserved).

    Prev/next positions come from two frame-bounded windows over the
    posexploded span table (carry pos only when kind='text'); offsets
    re-join the span table by (doc_id, pos) — no IGNORE NULLS dialect
    divergence.  Missing context coalesces to -1 (scalar non-null output).

    Scale: two windows partitioned by doc_id + two doc_id-keyed joins —
    everything shuffles once on doc_id; no cross-doc state."""
    from .convert_queries import FIXTURE_CORPUS

    if d == SPARK:
        ex = (
            "select doc_id, pos, s.kind as kind, s.offset as off from "
            "(select doc_id, posexplode(spans) as (pos, s) from __mc_docs) e"
        )
    else:
        ex = (
            'select doc_id, pos, span.kind as kind, span."offset" as off '
            "from (select doc_id, generate_subscripts(spans, 1) - 1 as pos, "
            f"unnest(spans) as span from read_parquet('{FIXTURE_CORPUS}')) e"
        )
    return f"""
        with sp as ({ex}),
        ctx as (
            select doc_id, pos, off,
                   max(case when kind = 'text' then pos end) over (
                       partition by doc_id order by pos asc
                       rows between unbounded preceding and 1 preceding
                   ) as prev_pos,
                   min(case when kind = 'text' then pos end) over (
                       partition by doc_id order by pos asc
                       rows between 1 following and unbounded following
                   ) as next_pos
            from sp
        ),
        media as (
            select c.doc_id, c.pos, c.off, c.prev_pos, c.next_pos
            from ctx c join sp s0
              on s0.doc_id = c.doc_id and s0.pos = c.pos
            where s0.kind = 'media'
        )
        select m.doc_id,
               cast(m.pos as bigint) as media_pos,
               cast(m.off as bigint) as media_off,
               cast(coalesce(m.prev_pos, -1) as bigint) as prev_text_pos,
               cast(coalesce(p.off, -1) as bigint) as prev_text_off,
               cast(coalesce(m.next_pos, -1) as bigint) as next_text_pos,
               cast(coalesce(n.off, -1) as bigint) as next_text_off
        from media m
        left join sp p on p.doc_id = m.doc_id and p.pos = m.prev_pos
        left join sp n on n.doc_id = m.doc_id and n.pos = m.next_pos"""


def q_media_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .convert_queries import FIXTURE_CORPUS

    spark.read.parquet(FIXTURE_CORPUS).createOrReplaceTempView("__mc_docs")
    return spark.sql(_media_context_sql(SPARK))


def q_media_context_oracle() -> str:
    return _media_context_sql(DUCK)


# ---------------------------------------------------------------------------
# F-function (empty-space function) over a deterministic probe grid
# ---------------------------------------------------------------------------
_F_RADII = [500.0, 1000.0, 2000.0, 4000.0, 8000.0]
_F_GRID = 24  # 24×24 probe grid over the data bbox


def _f_function_sql(d: str, radii=None, grid: int = _F_GRID) -> str:
    """Empty-space function F(r): the fraction of DETERMINISTIC probe-grid
    locations whose nearest data point lies within r — Ripley-school
    complement to the G-function (G asks about gaps BETWEEN points, F about
    holes in the coverage; together they separate clustering from voids).

    Probes are the centers of a grid×grid lattice over the data's bbox
    (exact double arithmetic, identical both dialects); the NN distance per
    probe is a min over a bounded-candidate join, quantized to integer µm
    before the fold (g_function discipline).  Probes with no point within
    max(r) stay censored in the denominator — the naive estimator, stated.

    Scale: probes are a fixed-size dimension (broadcast side); the data
    side is cell-collapsed before the distance evaluation, so the join is
    probe × occupied-cells, never probe × corpus.  Here the exact form
    joins probe × points directly (sf-sized); the cell-pruned path is
    radius_join — same machinery as g_function."""
    from ..functions.portable import haversine_m

    radii = radii or _F_RADII
    seq = (
        f"explode(sequence(0, {grid - 1}))"
        if d == SPARK
        else None
    )
    if d == SPARK:
        probes = f"""
            select gi.i as i, gj.j as j,
                   b.lat_lo + (gi.i + 0.5e0) * (b.lat_hi - b.lat_lo) / {grid}.0e0 as plat,
                   b.lon_lo + (gj.j + 0.5e0) * (b.lon_hi - b.lon_lo) / {grid}.0e0 as plon
            from bbox b
            cross join (select {seq} as i) gi
            cross join (select {seq} as j) gj"""
    else:
        probes = f"""
            select gi.i as i, gj.j as j,
                   b.lat_lo + (gi.i + 0.5e0) * (b.lat_hi - b.lat_lo) / {grid}.0e0 as plat,
                   b.lon_lo + (gj.j + 0.5e0) * (b.lon_hi - b.lon_lo) / {grid}.0e0 as plon
            from bbox b,
                 unnest(generate_series(0, {grid - 1})) gi(i),
                 unnest(generate_series(0, {grid - 1})) gj(j)"""
    dist = haversine_m("p.plat", "p.plon", "g.lat", "g.lon", d)
    sums = ", ".join(
        f"cast(sum(case when nn_um <= {int(round(r * 1e6))} then 1 else 0 end) as bigint) as c{i}"
        for i, r in enumerate(radii)
    )
    if d == SPARK:
        arr = ", ".join(
            f"named_struct('r_m', {r!r}e0, 'n_within', coalesce(c{i}, cast(0 as bigint)))"
            for i, r in enumerate(radii)
        )
        tail = f"""
        staged as (
            select cast({grid * grid} as bigint) as n_probes,
                   explode(array({arr})) as rc
            from cnt)
        select rc.r_m as r_m, n_probes, rc.n_within as n_within,
               round(cast(rc.n_within as double) / cast(n_probes as double), 9)
                   as f_hat
        from staged"""
    else:
        arr = ", ".join(
            f"struct_pack(r_m := {r!r}e0, n_within := coalesce(c{i}, cast(0 as bigint)))"
            for i, r in enumerate(radii)
        )
        tail = f"""
        staged as (
            select cast({grid * grid} as bigint) as n_probes,
                   unnest([{arr}]) as rc
            from cnt)
        select (rc).r_m as r_m, n_probes, (rc).n_within as n_within,
               round(cast((rc).n_within as double) / cast(n_probes as double), 9)
                   as f_hat
        from staged"""
    return f"""bbox as (
            select min(lat) as lat_lo, max(lat) as lat_hi,
                   min(lon) as lon_lo, max(lon) as lon_hi
            from geo_points
        ),
        probes as ({probes}),
        nn as (
            select p.i, p.j,
                   min(cast(floor(round({dist}, 6) * 1.0e6 + 0.5e0) as bigint))
                       as nn_um
            from probes p join geo_points g
              on abs(g.lat - p.plat) <= 0.08e0 and abs(g.lon - p.plon) <= 0.16e0
            group by p.i, p.j
        ),
        cnt as (select {sums} from nn),
        {tail}"""


def q_f_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir)
    return spark.sql(f"with {_f_function_sql(SPARK)}")


def q_f_function_oracle() -> str:
    from . import queries as q

    return f"{q.duck_geometry_ctes()}, {_f_function_sql(DUCK)}"


# ---------------------------------------------------------------------------
# Clark–Evans nearest-neighbor index
# ---------------------------------------------------------------------------
def _clark_evans_sql(d: str, r_max_m: float = 2000.0) -> str:
    """Clark–Evans aggregation index R = observed mean NN distance /
    expected under CSR (0.5/√density), with the Donnelly-free naive z
    (se = 0.26136/√(n·density)) — the one-number verdict the G/K curves
    summarize (R<1 clustered, R≈1 random, R>1 regular/inhibited).

    NN distances are exact mins over a bounded candidate window quantized
    to µm; points with no neighbor within r_max are CENSORED and reported
    (n_censored) — the estimator runs over the uncensored set, identically
    in both dialects.  Study area = equirect bbox of the data (COSLAT0
    latitude correction — the engine's fixed planar constant).

    Scale: same pair source as g_function (cell-pruned radius join at
    r_max); everything after the per-point min is a 1-row aggregate."""
    from ..functions.portable import haversine_m

    from . import queries as q

    from ..functions import geo

    dist = haversine_m("a.lat", "a.lon", "b.lat", "b.lon", d)
    m_per_deg = "111194.92664455873e0"
    # candidate pruning is a res-13 ring-cell EQUI-join (cell edge 0.022°
    # lat / 0.044° lon ≥ the 0.02°/0.04° band, so the ±1 ring provably
    # covers it); the band predicate then re-applies, so the candidate set
    # — and hence every min — is identical to the brute band join.  Band ≈
    # 2.2 km each axis, matched to r_max (any point within r_max is inside
    # the band: 2000/111195 = 0.018° ≤ 0.02, 2000/(111195·COSLAT0) =
    # 0.034° ≤ 0.04).  A raw theta band join plans as a broadcast nested
    # loop, and a band much wider than the NN scale floods the verify
    # stage (0.2° band = 63M pairs = 45 s at sf0.1; this form is ~1 s).
    ix, iy = geo.quad_ixy("lat", "lon", 13, d)
    if d == SPARK:
        ring = (
            "select point_id, lat, lon, cx + dx as jx, cy + dy as jy "
            "from (select point_id, lat, lon, cx, cy, "
            "explode(sequence(-1, 1)) as dx from cells) t "
            "lateral view explode(sequence(-1, 1)) e as dy"
        )
    else:
        ring = (
            "select point_id, lat, lon, cx + dx.x as jx, cy + dy.y as jy "
            "from cells, unnest(generate_series(-1, 1)) dx(x), "
            "unnest(generate_series(-1, 1)) dy(y)"
        )
    return f"""cells as (
            select point_id, lat, lon, {ix} as cx, {iy} as cy from geo_points
        ),
        ringed as ({ring}),
        nn as (
            select a.point_id as pid,
                   min(cast(floor(round({dist}, 6) * 1.0e6 + 0.5e0) as bigint))
                       as nn_um
            from ringed a join cells b
              on b.cx = a.jx and b.cy = a.jy
             and a.point_id <> b.point_id
             and abs(b.lat - a.lat) <= 0.02e0 and abs(b.lon - a.lon) <= 0.04e0
            group by a.point_id
        ),
        keepnn as (select nn_um from nn where nn_um <= {int(r_max_m * 1e6)}),
        tot as (select cast(count(*) as bigint) as n_all from geo_points),
        bbox as (
            select (max(lat) - min(lat)) * {m_per_deg} as dy_m,
                   (max(lon) - min(lon)) * {m_per_deg} * {q.COSLAT0!r}e0 as dx_m
            from geo_points
        ),
        obs as (
            select cast(count(*) as bigint) as n_obs,
                   cast(sum(nn_um) as bigint) as s_um
            from keepnn
        )
        select t.n_all, o.n_obs,
               cast(t.n_all - o.n_obs as bigint) as n_censored,
               round(cast(o.s_um as double) / cast(o.n_obs as double) / 1.0e6, 9)
                   as mean_nn_m,
               round((cast(o.s_um as double) / cast(o.n_obs as double) / 1.0e6)
                     / (0.5e0 / sqrt(cast(t.n_all as double)
                                     / (b.dy_m * b.dx_m))), 9) as r_index,
               round(((cast(o.s_um as double) / cast(o.n_obs as double) / 1.0e6)
                      - 0.5e0 / sqrt(cast(t.n_all as double) / (b.dy_m * b.dx_m)))
                     / (0.26136e0 / sqrt(cast(t.n_all as double)
                        * cast(t.n_all as double) / (b.dy_m * b.dx_m))), 9) as z
        from obs o cross join tot t cross join bbox b"""


def q_clark_evans(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir)
    return spark.sql(f"with {_clark_evans_sql(SPARK)}")


def q_clark_evans_oracle() -> str:
    from . import queries as q

    return f"{q.duck_geometry_ctes()}, {_clark_evans_sql(DUCK)}"


# ---------------------------------------------------------------------------
# Quadrat-count CSR test (variance-mean ratio + χ²)
# ---------------------------------------------------------------------------
def _quadrat_sql(d: str, res: int = 13) -> str:
    """Quadrat-count test of complete spatial randomness over the res-13
    quad lattice spanning the data's cell bbox: variance/mean ratio (VMR —
    >1 clustered, <1 regular) and Pearson χ² = Σ_quadrats (c−m)²/m
    including the EMPTY quadrats ((Q−occ)·m, algebraically exact).

    Everything derives from three integer aggregates over the occupied-
    cell table (n, Σc², occupied, bbox extents); doubles appear only in
    the final expressions — bit-identical both engines.

    Scale: corpus → cell counts (map-side combined) → 1-row aggregate."""
    from ..functions import geo

    ix, iy = geo.quad_ixy("lat", "lon", res, d)
    return f"""cells as (
            select {ix} as cx, {iy} as cy, cast(count(*) as bigint) as c
            from geo_points group by 1, 2
        ),
        agg as (
            select cast(sum(c) as bigint) as n,
                   cast(sum(c * c) as bigint) as s2,
                   cast(count(*) as bigint) as occ,
                   cast(max(cx) - min(cx) + 1 as bigint) as nx,
                   cast(max(cy) - min(cy) + 1 as bigint) as ny
            from cells
        )
        select n, occ,
               cast(nx * ny as bigint) as q_total,
               round((cast(s2 as double)
                      - cast(n as double) * cast(n as double)
                        / cast(nx * ny as double))
                     / cast(nx * ny as double)
                     / (cast(n as double) / cast(nx * ny as double)), 9) as vmr,
               round((cast(s2 as double)
                      - cast(n as double) * cast(n as double)
                        / cast(nx * ny as double))
                     / (cast(n as double) / cast(nx * ny as double)), 9) as chi2
        from agg"""


def q_quadrat(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir)
    return spark.sql(f"with {_quadrat_sql(SPARK)}")


def q_quadrat_oracle() -> str:
    from . import queries as q

    return f"{q.duck_geometry_ctes()}, {_quadrat_sql(DUCK)}"


# ---------------------------------------------------------------------------
# Radius of gyration per trajectory
# ---------------------------------------------------------------------------
def _radius_gyration_sql(d: str) -> str:
    """Per-trajectory radius of gyration — THE mobility-scale summary
    (González et al. 2008): rg = √(mean squared geodesic distance of fixes
    to the track centroid).

    Exactness: centroid folds as 1e-9-degree integer units (order-free),
    one division each; per-fix d² (haversine, both engines bit-identical)
    quantized to integer mm² ·10 (1e3 units of m²) before the mean fold;
    final √ is IEEE-correctly-rounded.

    Scale: one groupBy per traj for the centroid, one re-join (traj-keyed,
    same partitioning), one groupBy for the fold — the corpus shuffles
    once on traj_id."""
    from ..functions.portable import haversine_m

    q9 = "cast(floor({} * 1.0e9 + 0.5e0) as bigint)"
    dist = haversine_m("f.lat", "f.lon", "c.clat", "c.clon", d)
    d2q = f"cast(floor(round({dist}, 6) * round({dist}, 6) * 1.0e3 + 0.5e0) as bigint)"
    return f"""cent as (
            select traj_id,
                   cast(count(*) as bigint) as n_fix,
                   cast(sum({q9.format('lat')}) as bigint) as slat,
                   cast(sum({q9.format('lon')}) as bigint) as slon
            from geo_traj group by traj_id
        ),
        cxy as (
            select traj_id, n_fix,
                   cast(slat as double) / cast(n_fix as double) / 1.0e9 as clat,
                   cast(slon as double) / cast(n_fix as double) / 1.0e9 as clon
            from cent
        ),
        folded as (
            select f.traj_id, c.n_fix,
                   cast(sum({d2q}) as bigint) as sd2
            from geo_traj f join cxy c on c.traj_id = f.traj_id
            group by f.traj_id, c.n_fix
        )
        select traj_id, n_fix,
               round(sqrt(cast(sd2 as double) / cast(n_fix as double) / 1.0e3), 6)
                   as rg_m
        from folded"""


def q_radius_gyration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import queries as q

    _views(spark, sf_dir)
    spark.sql(f"create or replace temp view geo_traj as {q.traj_sql(SPARK)}")
    return spark.sql(f"with {_radius_gyration_sql(SPARK)}")


def q_radius_gyration_oracle() -> str:
    from . import queries as q

    return (
        f"{q.duck_geometry_ctes()}, geo_traj as ({q.traj_sql(DUCK)}), "
        f"{_radius_gyration_sql(DUCK)}"
    )


# ---------------------------------------------------------------------------
# Circular bearing statistics per trajectory (trig-free)
# ---------------------------------------------------------------------------
def _bearing_stats_sql(d: str) -> str:
    """Mean resultant length R̄ of step headings per trajectory — the
    circular-statistics dispersion measure (R̄→1 straight/ballistic track,
    R̄→0 uniform headings / diffusive), with circular variance 1−R̄.

    TRIG-FREE: each step's unit heading vector is (dx/len, dy/len) in the
    COSLAT0 equirect plane — no atan2, no degrees; components quantized to
    1e9 integer units before the fold, zero-length steps excluded by the
    len > 0 guard (identically both dialects); one final √/÷ pair.

    Scale: one lag window partitioned by traj_id + one groupBy — single
    traj_id shuffle."""
    from . import queries as q

    k = f"{q.COSLAT0!r}e0"
    return f"""steps as (
            select traj_id,
                   (lat - lag(lat) over (partition by traj_id order by step asc))
                       as dy,
                   ((lon - lag(lon) over (partition by traj_id order by step asc))
                       * {k}) as dx
            from geo_traj
        ),
        unitv as (
            select traj_id,
                   cast(floor(dx / sqrt(dx * dx + dy * dy) * 1.0e9 + 0.5e0)
                        as bigint) as ux_q9,
                   cast(floor(dy / sqrt(dx * dx + dy * dy) * 1.0e9 + 0.5e0)
                        as bigint) as uy_q9
            from steps
            where dy is not null and (dx * dx + dy * dy) > 0.0e0
        ),
        folded as (
            select traj_id,
                   cast(count(*) as bigint) as n_steps,
                   cast(sum(ux_q9) as bigint) as sx,
                   cast(sum(uy_q9) as bigint) as sy
            from unitv group by traj_id
        )
        select traj_id, n_steps,
               round(sqrt(cast(sx as double) * cast(sx as double)
                          + cast(sy as double) * cast(sy as double))
                     / cast(n_steps as double) / 1.0e9, 9) as rbar,
               round(1.0e0 - sqrt(cast(sx as double) * cast(sx as double)
                          + cast(sy as double) * cast(sy as double))
                     / cast(n_steps as double) / 1.0e9, 9) as circ_var
        from folded"""


def q_bearing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import queries as q

    _views(spark, sf_dir)
    spark.sql(f"create or replace temp view geo_traj as {q.traj_sql(SPARK)}")
    return spark.sql(f"with {_bearing_stats_sql(SPARK)}")


def q_bearing_stats_oracle() -> str:
    from . import queries as q

    return (
        f"{q.duck_geometry_ctes()}, geo_traj as ({q.traj_sql(DUCK)}), "
        f"{_bearing_stats_sql(DUCK)}"
    )


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
    from ..operators import dedup as ddp

    cos_qc = ddp.cosine_expr("q.embedding", "c.embedding", d)
    cos_ab = ddp.cosine_expr("x.embedding", "y.embedding", d)
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
    _views(spark, sf_dir)
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
    _views(spark, sf_dir)
    centered = spark.sql(_pca_centered_sql(SPARK)).persist()
    centered.createOrReplaceTempView("__pca_c")
    out = spark.sql("with " + _pca_body(SPARK, "__pca_c"))
    from ..operators.dedup import _attach_cached

    return _attach_cached(out, [centered])


def q_pca_top_oracle() -> str:
    return (
        f"with c0 as ({_pca_centered_sql(DUCK)}),\n"
        + _pca_body(DUCK, "c0")
    )


# ---------------------------------------------------------------------------
# Feature-hashing (hashing-trick) document featurizer
# ---------------------------------------------------------------------------
def _feature_hash_sql(d: str, dim: int = 64) -> str:
    """Signed feature-hashing embedding (Weinberger et al. 2009): token t
    contributes sign(h'(t)) · tf to dimension h(t) mod ``dim`` — the
    vocabulary-free featurizer feeding linear models / nearest-neighbor
    search without a dictionary build.  Output long-form (doc_id, dim, w):
    pure integers, exactly partition-invariant (signed counts).

    Scale: one explode + one map-side-combined groupBy on (doc_id, dim) —
    single corpus pass, no joins."""
    from ..functions.portable import concat_str, phash60

    toks = tx.tokens("text", d)
    unnest = (
        f"select doc_id, explode({toks}) as term from documents"
        if d == SPARK
        else f"select doc_id, unnest({toks}) as term from documents"
    )
    hj = phash60(concat_str(["'fh:'", "term"], d), d)
    hs = phash60(concat_str(["'fhs:'", "term"], d), d)
    return f"""
        with t as ({unnest}),
        hashed as (
            select doc_id,
                   cast(({hj}) % {dim} as bigint) as dim,
                   case when ({hs}) % 2 = 0 then 1 else -1 end as sgn
            from t
        )
        select doc_id, dim, cast(sum(sgn) as bigint) as w
        from hashed group by doc_id, dim"""


def q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir)
    return spark.sql(_feature_hash_sql(SPARK))


def q_feature_hash_oracle() -> str:
    return _feature_hash_sql(DUCK)


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


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir)
    return spark.sql(_l_diversity_sql(SPARK))


def q_l_diversity_oracle() -> str:
    return _l_diversity_sql(DUCK)


# ---------------------------------------------------------------------------
# EDR trajectory-similarity join (DTW's outlier-robust sibling)
# ---------------------------------------------------------------------------
_EDR_EPS_M = 3000.0
_EDR_MAX = 3


def q_edr_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit Distance on Real sequence join over the geo_traj fixture:
    eps-padded bbox-cover candidates (complete for max_edr < n_steps) +
    0/1-thresholded integer anti-diagonal DP as one nested-let_ expression
    (trajsim.edr_join) — completes the DTW/Hausdorff/EDR similarity trio."""
    from . import queries as q
    from ..operators import trajsim

    _views(spark, sf_dir)
    spark.sql(f"create or replace temp view geo_traj as {q.traj_sql(SPARK)}")
    return trajsim.edr_join(
        spark.table("geo_traj"), eps_m=_EDR_EPS_M, max_edr=_EDR_MAX,
        n_steps=q._MM_STEPS, res=12,
    )


def q_edr_join_oracle() -> str:
    from . import queries as q
    from ..operators import trajsim

    body = trajsim.edr_join_oracle_sql(
        f"select * from ({q.traj_sql(DUCK)}) _t", eps_m=_EDR_EPS_M,
        max_edr=_EDR_MAX, n_steps=q._MM_STEPS,
    )
    return f"{q.duck_geometry_ctes()}, __d as ({body}) select * from __d"


# ---------------------------------------------------------------------------
# Centrography: mean center, standard distance, deviational ellipse
# ---------------------------------------------------------------------------
def _centrography_sql(d: str) -> str:
    """The classic GIS centrography battery over the point set: mean
    center, standard distance (RMS planar distance to the center), and the
    standard deviational ellipse — axes from the 2×2 deviation covariance
    eigenpair, orientation reported TRIG-FREE as tan(2θ) = 2σxy/(σxx−σyy)
    (the caller takes atan2 client-side; no cross-engine trig).

    Exactness: center folds as 1e-9-degree integers; per-point planar
    deviations (meters, COSLAT0 equirect) enter σxx/σyy/σxy quantized to
    integer 1e-3 m² units BEFORE the folds; the eigenpair closed form is
    doubles over exact ints (sqrt correctly rounded).

    Scale: two corpus passes (center, then moments) — both map-side
    combined 1-row aggregates; the center rides a broadcast cross join."""
    from . import queries as q

    m_per_deg = "111194.92664455873e0"
    k = f"{q.COSLAT0!r}e0"
    q9 = "cast(floor({} * 1.0e9 + 0.5e0) as bigint)"
    dx = f"((lon - c.clon) * {k} * {m_per_deg})"
    dy = f"((lat - c.clat) * {m_per_deg})"
    q3 = "cast(floor({} * 1.0e3 + 0.5e0) as bigint)"
    return f"""cent as (
            select cast(count(*) as bigint) as n,
                   cast(sum({q9.format('lat')}) as bigint) as slat,
                   cast(sum({q9.format('lon')}) as bigint) as slon
            from geo_points
        ),
        cxy as (
            select n,
                   cast(slat as double) / cast(n as double) / 1.0e9 as clat,
                   cast(slon as double) / cast(n as double) / 1.0e9 as clon
            from cent
        ),
        moments as (
            select max(c.n) as n, max(c.clat) as clat, max(c.clon) as clon,
                   cast(sum({q3.format(f'{dx} * {dx}')}) as bigint) as sxx,
                   cast(sum({q3.format(f'{dy} * {dy}')}) as bigint) as syy,
                   cast(sum({q3.format(f'{dx} * {dy}')}) as bigint) as sxy
            from geo_points p cross join cxy c
        )
        select n,
               round(clat, 9) as clat, round(clon, 9) as clon,
               round(sqrt((cast(sxx as double) + cast(syy as double))
                          / 1.0e3 / cast(n as double)), 6) as std_dist_m,
               round(2.0e0 * cast(sxy as double)
                     / nullif(cast(sxx as double) - cast(syy as double),
                              0.0e0), 9) as tan2theta,
               round(sqrt(greatest(((cast(sxx as double) + cast(syy as double)) / 2.0e0
                      + sqrt(((cast(sxx as double) - cast(syy as double)) / 2.0e0)
                             * ((cast(sxx as double) - cast(syy as double)) / 2.0e0)
                             + cast(sxy as double) * cast(sxy as double)))
                     / 1.0e3 / cast(n as double), 0.0e0)), 6) as sigma_major_m,
               round(sqrt(greatest(((cast(sxx as double) + cast(syy as double)) / 2.0e0
                      - sqrt(((cast(sxx as double) - cast(syy as double)) / 2.0e0)
                             * ((cast(sxx as double) - cast(syy as double)) / 2.0e0)
                             + cast(sxy as double) * cast(sxy as double)))
                     / 1.0e3 / cast(n as double), 0.0e0)), 6) as sigma_minor_m
        from moments"""


def q_centrography(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir)
    return spark.sql(f"with {_centrography_sql(SPARK)}")


def q_centrography_oracle() -> str:
    from . import queries as q

    return f"{q.duck_geometry_ctes()}, {_centrography_sql(DUCK)}"


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


def q_kruskal(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir)
    return spark.sql(_kruskal_sql(SPARK))


def q_kruskal_oracle() -> str:
    return _kruskal_sql(DUCK)


# ---------------------------------------------------------------------------
# Emerging hotspot analysis (space-time Gi* + Mann–Kendall classification)
# ---------------------------------------------------------------------------
_EH_T = 8
_EH_HOT_Q6 = 1282000  # z >= 1.282 ≈ 90th percentile, in 1e-6 z units


def _emerging_sql(d: str, res: int = 11) -> str:
    """Emerging-hotspot analysis over the densified space-time cube (the
    ArcGIS-named product composition, from this engine's own parts): per
    (cell, t) a Gi*-style ring z-score over the ZERO-DENSIFIED cell×T grid,
    per cell the Mann–Kendall S over its z series, then the standard
    pattern labels — new / persistent / intensifying / diminishing /
    sporadic — from (hot-last, #hot slices, S sign).

    Exactness: z is the hotspot/moran staged form (integer ring sums, one
    IEEE expression) quantized to 1e-6 z units; every downstream decision
    (hot threshold, MK sign, labels) is an integer compare.

    Scale: the corpus collapses to (cell, t) counts once; densification,
    ring join, and the T²-pair MK fold all run over the CELL grid."""
    from ..functions import geo

    from . import queries as q

    ix, iy = geo.quad_ixy("lat", "lon", res, d)
    pts = q._mk_points_sql(d)
    if d == SPARK:
        ring = (
            "select cx + dx as tx, cy + dy as ty, t, cnt from (select cx, cy,"
            " t, cnt, explode(sequence(-1, 1)) as dx from grid) a"
            " lateral view explode(sequence(-1, 1)) e as dy"
        )
        tseq = f"(select explode(sequence(0, {_EH_T - 1})) as t)"
    else:
        ring = (
            "select cx + dx.x as tx, cy + dy.y as ty, t, cnt from grid,"
            " unnest(generate_series(-1, 1)) dx(x),"
            " unnest(generate_series(-1, 1)) dy(y)"
        )
        tseq = f"(select t from unnest(generate_series(0, {_EH_T - 1})) s(t))"
    z = (
        "(cast(wi as double) - (cast(sx as double) / cast(nn as double))"
        " * cast(ni as double))"
        " / nullif(sqrt(greatest(cast(sxx as double) / cast(nn as double)"
        " - (cast(sx as double) / cast(nn as double))"
        " * (cast(sx as double) / cast(nn as double)), 0.0e0))"
        " * sqrt((cast(nn as double) * cast(ni as double)"
        " - cast(ni as double) * cast(ni as double))"
        " / (cast(nn as double) - 1.0e0)), 0.0e0)"
    )
    return f"""counts as (
            select {ix} as cx, {iy} as cy, bucket as t,
                   cast(count(*) as bigint) as cnt
            from ({pts}) p group by 1, 2, 3
        ),
        cells as (select distinct cx, cy from counts),
        grid as (
            select c.cx, c.cy, ts.t, cast(coalesce(k.cnt, 0) as bigint) as cnt
            from cells c
            cross join {tseq} ts
            left join counts k on k.cx = c.cx and k.cy = c.cy and k.t = ts.t
        ),
        ring as ({ring}),
        w as (
            select g.cx, g.cy, g.t,
                   cast(sum(r.cnt) as bigint) as wi,
                   cast(count(*) as bigint) as ni
            from grid g join ring r on r.tx = g.cx and r.ty = g.cy and r.t = g.t
            group by g.cx, g.cy, g.t
        ),
        gstats as (
            select t, cast(count(*) as bigint) as nn,
                   cast(sum(cnt) as bigint) as sx,
                   cast(sum(cnt * cnt) as bigint) as sxx
            from grid group by t
        ),
        zq as (
            select w.cx, w.cy, w.t,
                   cast(floor(coalesce({z}, 0.0e0) * 1000000.0e0 + 0.5e0)
                        as bigint) as z_q6
            from w join gstats s on s.t = w.t
        ),
        mk as (
            select a.cx, a.cy,
                   cast(sum(case when b.z_q6 > a.z_q6 then 1
                                 when b.z_q6 < a.z_q6 then -1
                                 else 0 end) as bigint) as s_stat
            from zq a join zq b
              on b.cx = a.cx and b.cy = a.cy and b.t > a.t
            group by a.cx, a.cy
        ),
        hot as (
            select cx, cy,
                   cast(sum(case when z_q6 >= {_EH_HOT_Q6} then 1 else 0 end)
                        as bigint) as n_hot,
                   cast(max(case when t = {_EH_T - 1} and z_q6 >= {_EH_HOT_Q6}
                                 then 1 else 0 end) as bigint) as hot_last
            from zq group by cx, cy
        )
        select h.cx as cell_x, h.cy as cell_y, m.s_stat, h.n_hot, h.hot_last,
               case when h.n_hot = {_EH_T} then 'persistent'
                    when h.hot_last = 1 and h.n_hot = 1 then 'new'
                    when h.hot_last = 1 and m.s_stat > 0 then 'intensifying'
                    when h.hot_last = 0 and h.n_hot > 0 and m.s_stat < 0
                         then 'diminishing'
                    when h.n_hot > 0 then 'sporadic'
                    else 'none' end as pattern
        from hot h join mk m on m.cx = h.cx and m.cy = h.cy"""


def q_emerging_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir)
    return spark.sql(f"with {_emerging_sql(SPARK)}")


def q_emerging_hotspots_oracle() -> str:
    from . import queries as q

    return f"{q.duck_geometry_ctes()}, {_emerging_sql(DUCK)}"


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


def q_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir)
    return spark.sql(_auc_sql(SPARK))


def q_auc_roc_oracle() -> str:
    return _auc_sql(DUCK)


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


def q_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir)
    return spark.sql(_isotonic_sql(SPARK))


def q_isotonic_oracle() -> str:
    return _isotonic_sql(DUCK)


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
    _views(spark, sf_dir)
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
    _views(spark, sf_dir)
    return spark.sql(_tfidf_topk_sql(SPARK))


def q_tfidf_topk_oracle() -> str:
    return _tfidf_topk_sql(DUCK)


# ---------------------------------------------------------------------------
# SimHash blocked-Hamming near-dup pairs
# ---------------------------------------------------------------------------
def _simhash_body_sql(d: str, fps_src: str, max_ham: int = 3) -> str:
    """CTE body over a fingerprint table ``fps_src`` (doc_id, fp)."""
    if d == SPARK:
        blocks = f"select doc_id, fp, explode(sequence(0, 3)) as b from {fps_src}"
        ham = "bit_count(x.fp ^ y.fp)"
        shift = "shiftright(fp, cast(8 * b as int))"
    else:
        blocks = (
            f"select doc_id, fp, b from {fps_src},"
            " unnest(generate_series(0, 3)) t(b)"
        )
        ham = "bit_count(xor(x.fp, y.fp))"
        shift = "(cast(fp as bigint) // cast(power(2, 8 * b) as bigint))"
    return f"""blocked as (
            select doc_id, b, ({shift}) % 256 as bv
            from ({blocks}) e
        ),
        cand as (
            select distinct a.doc_id as doc_a, b.doc_id as doc_b
            from blocked a join blocked b
              on a.b = b.b and a.bv = b.bv and a.doc_id < b.doc_id
        ),
        verified as (
            select c.doc_a, c.doc_b, cast({ham} as bigint) as hamming
            from cand c
            join {fps_src} x on x.doc_id = c.doc_a
            join {fps_src} y on y.doc_id = c.doc_b
        )
        select doc_a, doc_b, hamming from verified
        where hamming <= {int(max_ham)}"""


def _simhash_pairs_sql(d: str, max_ham: int = 3) -> str:
    """Near-dup PAIRS under SimHash Hamming distance ≤ ``max_ham`` — the
    Manku/Google web-dedup join the equality-clustered simhash operator
    can't express (it only finds IDENTICAL fingerprints).  Blocked LSH:
    the 32-bit fingerprint splits into 4 byte blocks; distance ≤ 3 pigeon-
    holes at least one equal block, so a per-block equi-join is a COMPLETE
    candidate generator; verify is one integer bit_count(xor) compare.

    Scale: candidates carry only (doc_id, block, value); Θ(Σ bucket²) on
    byte-block buckets (the minhash band-join discipline).  The Spark
    path persists the fingerprint table — inlined, the simhash vote
    expression recomputes per CTE reference (measured 28.6 s vs 3 s at
    sf0.1, the lsh_band_stats trap)."""
    fp = tx.simhash64("text", d)
    return (
        f"with fps as (select doc_id, cast({fp} as bigint) as fp"
        f" from documents), "
        + _simhash_body_sql(d, "fps", max_ham)
    )


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import _attach_cached

    _views(spark, sf_dir)
    fp = tx.simhash64("text", SPARK)
    par = 4 * int(spark.sparkContext.defaultParallelism)
    # repartition BEFORE the vote expression: the corpus arrives as few
    # parquet splits and the per-doc fingerprint is compute-bound (~2 ms/
    # doc of HOF evaluation) — on one partition the cache materialization
    # serializes (measured 14 s at sf0.1; spread: <1 s).  Materialize
    # eagerly so the self-join's two scan branches share the cache.
    fps = (
        spark.table("documents")
        .repartition(par)
        .selectExpr("doc_id", f"cast({fp} as bigint) as fp")
        .persist()
    )
    fps.count()
    fps.createOrReplaceTempView("__sh_fps")
    out = spark.sql("with " + _simhash_body_sql(SPARK, "__sh_fps"))
    return _attach_cached(out, [fps])


def q_simhash_pairs_oracle() -> str:
    return _simhash_pairs_sql(DUCK)


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
    _views(spark, sf_dir)
    return spark.sql(_rocchio_sql(SPARK))


def q_rocchio_oracle() -> str:
    return _rocchio_sql(DUCK)


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


def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir)
    return spark.sql(_burstiness_sql(SPARK))


def q_burstiness_oracle() -> str:
    return _burstiness_sql(DUCK)


# ---------------------------------------------------------------------------
# Raster slope/gradient + zonal majority (map-algebra extensions)
# ---------------------------------------------------------------------------
def _raster_cte(d: str, res: int = 12, seed: int = 42) -> str:
    """(ix, iy, cell, value) raster CTE — same arithmetic as
    operators.raster.synthesize_raster / the raster_zonal oracle."""
    from ..functions import geo
    from ..functions.portable import concat_str, flit, phash60

    from . import queries as q

    n = 2**res
    iy_lo = int((q.LAT_LO + 90.0) / 180.0 * n)
    iy_hi = int((q.LAT_HI + 90.0) / 180.0 * n)
    ix_lo = int((q.LON_LO + 180.0) / 360.0 * n)
    ix_hi = int((q.LON_HI + 180.0) / 360.0 * n)
    w = ix_hi - ix_lo + 1
    total = (iy_hi - iy_lo + 1) * w
    h = phash60(concat_str([f"'{seed}:ras:'", "iy", "':'", "ix"], d), d)
    if d == SPARK:
        src = (
            f"select ({iy_lo} + i div {w}) as iy, ({ix_lo} + i % {w}) as ix "
            f"from (select explode(sequence(0, {total - 1})) as i)"
        )
    else:
        src = (
            f"select ({iy_lo} + i // {w}) as iy, ({ix_lo} + i % {w}) as ix "
            f"from generate_series(0, {total - 1}) t(i)"
        )
    return (
        f"select iy, ix, {geo.quad_pack('ix', 'iy', res)} as cell, "
        f"round(({h} / {flit(float(2**60))}) * 2000.0e0, 3) as value "
        f"from ({src}) g"
    )


def _raster_slope_sql(d: str, res: int = 12) -> str:
    """Slope/gradient raster by central differences over the cell lattice —
    the first map-algebra derivative (feeds hillshade, runoff, viewshed
    pipelines).  TRIG-FREE: emits (dz/dx, dz/dy, |∇z|) in m/m; the caller
    takes atan/atan2 for slope°/aspect client-side (no cross-engine trig).

    Exactness: values are 1e-3-rounded synthesized elevations; gradients
    are one double expression of four of them over fixed metric cell sizes
    (COSLAT0 equirect) — identical op sequence both engines.

    Scale: three equi-joins of the raster with its ±1 shifted self, all on
    the cell lattice key — raster-sized, no corpus involvement; interior
    cells only (all four neighbors present)."""
    from . import queries as q

    n = 2**res
    m_per_deg = 111194.92664455873
    cell_y_m = 180.0 / n * m_per_deg
    cell_x_m = 360.0 / n * m_per_deg * q.COSLAT0
    return f"""ras as ({_raster_cte(d, res)}),
        grad as (
            select c.ix, c.iy,
                   (e.value - w.value) / {2.0 * cell_x_m!r}e0 as gx,
                   (nn.value - s.value) / {2.0 * cell_y_m!r}e0 as gy
            from ras c
            join ras e on e.iy = c.iy and e.ix = c.ix + 1
            join ras w on w.iy = c.iy and w.ix = c.ix - 1
            join ras nn on nn.ix = c.ix and nn.iy = c.iy + 1
            join ras s on s.ix = c.ix and s.iy = c.iy - 1
        )
        select cast(ix as bigint) as ix, cast(iy as bigint) as iy,
               round(gx, 9) as gx, round(gy, 9) as gy,
               round(sqrt(gx * gx + gy * gy), 9) as slope
        from grad"""


def q_raster_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir)
    return spark.sql(f"with {_raster_slope_sql(SPARK)}")


def q_raster_slope_oracle() -> str:
    return f"with {_raster_slope_sql(DUCK)}"


def _zonal_majority_sql(d: str, res: int = 12, band_m: float = 200.0) -> str:
    """Zonal MAJORITY (modal elevation band per polygon) — the categorical
    zonal statistic avg/min/max can't express (land-cover class, dominant
    band); deterministic tie-break (count desc, band asc).

    Scale: cover explode → raster equi-join → (zone, band) map-side-
    combined counts → one zone-partitioned window over the band table."""
    from ..functions import geo

    cover = (
        f"select zone_id, explode({geo.quad_cover_bbox('pos_list', res, d)}) as cell from geo_polys"
        if d == SPARK
        else f"select zone_id, unnest({geo.quad_cover_bbox('pos_list', res, d)}) as cell from geo_polys"
    )
    return f"""ras as ({_raster_cte(d, res)}),
        cover as ({cover}),
        bands as (
            select c.zone_id,
                   cast(floor(r.value / {band_m!r}e0) as bigint) as band,
                   cast(count(*) as bigint) as n_cells
            from cover c join ras r on r.cell = c.cell
            group by c.zone_id, 2
        )
        select zone_id, band, n_cells
        from (
            select zone_id, band, n_cells,
                   row_number() over (partition by zone_id
                                      order by n_cells desc, band asc) as rn
            from bands
        ) r where rn = 1"""


def q_zonal_majority(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir)
    return spark.sql(f"with {_zonal_majority_sql(SPARK)}")


def q_zonal_majority_oracle() -> str:
    from . import queries as q

    return f"{q.duck_geometry_ctes()}, {_zonal_majority_sql(DUCK)}"


# ---------------------------------------------------------------------------
# TPC-H Q5 (local supplier volume)
# ---------------------------------------------------------------------------
def _tpch_q5_sql(d: str) -> str:
    """TPC-H Q5 shape — local-supplier volume per nation within a region/
    date window: the six-table snowflake join with the customer-and-
    supplier-same-nation correlation predicate (the join-order stress case
    Q7 doesn't exercise: the c↔s nation equality closes a CYCLE in the
    join graph).  Revenue quantized per row to int 1e-4 before the sum
    (the engine's TPC-H idiom).

    Scale: fact-sized hash joins against broadcast snowflake dimensions;
    one map-side-combined aggregate on nation."""
    return """
        select n_name,
               cast(count(*) as bigint) as n_lines,
               cast(sum(cast(floor(l_extendedprice * (1.0e0 - l_discount)
                    * 1.0e4 + 0.5e0) as bigint)) as bigint) as revenue_q4
        from customer
        join orders   on o_custkey   = c_custkey
        join lineitem on l_orderkey  = o_orderkey
        join supplier on s_suppkey   = l_suppkey
                     and s_nationkey = c_nationkey
        join nation   on n_nationkey = c_nationkey
        join region   on r_regionkey = n_regionkey
        where r_name = 'ASIA'
          and o_orderdate >= date '1996-01-01'
          and o_orderdate <  date '1997-01-01'
        group by n_name"""


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir)
    return spark.sql(_tpch_q5_sql(SPARK))


def q_tpch_q5_oracle() -> str:
    return _tpch_q5_sql(DUCK)


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


def q_l_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir)
    return spark.sql(_l_moments_sql(SPARK))


def q_l_moments_oracle() -> str:
    return _l_moments_sql(DUCK)


# ---------------------------------------------------------------------------
# Vocabulary richness: Chao1 + Good–Turing unseen mass per source
# ---------------------------------------------------------------------------
def _vocab_richness_sql(d: str) -> str:
    """How much vocabulary a source HASN'T shown yet — the
    sample-coverage question a corpus-curation pipeline asks before
    deciding it has "enough" of a source: Chao1 richness D + f1²/(2·f2)
    (lower bound on total types; bias-corrected f1(f1−1)/(2(f2+1)) when
    f2=0) and the Good–Turing unseen probability mass p0 = f1/N.

    Exactness: f1/f2/D/N are integer counts; the two estimates are one
    final double expression each, quantized.

    Scale: (source, term) counts → frequency-of-frequency counts — two
    map-side-combined groupBys, dimension-sized output."""
    toks = tx.tokens("text", d)
    unnest = (
        f"select source, explode({toks}) as term from documents"
        if d == SPARK
        else f"select source, unnest({toks}) as term from documents"
    )
    return f"""
        with t as ({unnest}),
        tf as (select source, term, cast(count(*) as bigint) as c
               from t group by source, term),
        fof as (
            select source,
                   cast(count(*) as bigint) as d_obs,
                   cast(sum(c) as bigint) as n_tokens,
                   cast(sum(case when c = 1 then 1 else 0 end) as bigint) as f1,
                   cast(sum(case when c = 2 then 1 else 0 end) as bigint) as f2
            from tf group by source
        )
        select source, d_obs, n_tokens, f1, f2,
               cast(floor((cast(d_obs as double)
                    + case when f2 > 0
                           then cast(f1 as double) * cast(f1 as double)
                                / (2.0e0 * cast(f2 as double))
                           else cast(f1 as double) * cast(f1 - 1 as double)
                                / (2.0e0 * cast(f2 + 1 as double)) end)
                    * 1000000.0e0 + 0.5e0) as bigint) as chao1_q6,
               cast(floor(cast(f1 as double) / cast(n_tokens as double)
                    * 1000000000.0e0 + 0.5e0) as bigint) as gt_unseen_q9
        from fof"""


def q_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir)
    return spark.sql(_vocab_richness_sql(SPARK))


def q_vocab_richness_oracle() -> str:
    return _vocab_richness_sql(DUCK)


def register_r4(QUERIES: dict) -> None:
    QUERIES["spearman"] = (q_spearman, q_spearman_oracle)
    QUERIES["mannwhitney"] = (q_mannwhitney, q_mannwhitney_oracle)
    QUERIES["jsd_drift"] = (q_jsd, q_jsd_oracle)
    QUERIES["gearys_c"] = (q_gearys_c, q_gearys_c_oracle)
    QUERIES["link_predict"] = (q_link_predict, q_link_predict_oracle)
    QUERIES["media_context"] = (q_media_context, q_media_context_oracle)
    QUERIES["f_function"] = (q_f_function, q_f_function_oracle)
    QUERIES["clark_evans"] = (q_clark_evans, q_clark_evans_oracle)
    QUERIES["quadrat"] = (q_quadrat, q_quadrat_oracle)
    QUERIES["radius_gyration"] = (q_radius_gyration, q_radius_gyration_oracle)
    QUERIES["bearing_stats"] = (q_bearing_stats, q_bearing_stats_oracle)
    QUERIES["mmr_rerank"] = (q_mmr_rerank, q_mmr_rerank_oracle)
    QUERIES["pca_top"] = (q_pca_top, q_pca_top_oracle)
    QUERIES["feature_hash"] = (q_feature_hash, q_feature_hash_oracle)
    QUERIES["l_diversity"] = (q_l_diversity, q_l_diversity_oracle)
    QUERIES["edr_join"] = (q_edr_join, q_edr_join_oracle)
    QUERIES["centrography"] = (q_centrography, q_centrography_oracle)
    QUERIES["kruskal_wallis"] = (q_kruskal, q_kruskal_oracle)
    QUERIES["emerging_hotspots"] = (q_emerging_hotspots, q_emerging_hotspots_oracle)
    QUERIES["auc_roc"] = (q_auc_roc, q_auc_roc_oracle)
    QUERIES["isotonic_calibration"] = (q_isotonic, q_isotonic_oracle)
    QUERIES["item_cf"] = (q_item_cf, q_item_cf_oracle)
    QUERIES["rocchio_expand"] = (q_rocchio, q_rocchio_oracle)
    QUERIES["burstiness"] = (q_burstiness, q_burstiness_oracle)
    QUERIES["raster_slope"] = (q_raster_slope, q_raster_slope_oracle)
    QUERIES["zonal_majority"] = (q_zonal_majority, q_zonal_majority_oracle)
    QUERIES["tpch_q5"] = (q_tpch_q5, q_tpch_q5_oracle)
    QUERIES["l_moments"] = (q_l_moments, q_l_moments_oracle)
    QUERIES["vocab_richness"] = (q_vocab_richness, q_vocab_richness_oracle)
    QUERIES["tfidf_topk"] = (q_tfidf_topk, q_tfidf_topk_oracle)
    QUERIES["simhash_pairs"] = (q_simhash_pairs, q_simhash_pairs_oracle)
