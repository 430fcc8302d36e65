"""Trajectory analytics: gap-based trip segmentation + movement statistics.

The geospatial sibling of event sessionization: an ordered point stream per
user becomes trips (30-min-gap rule), each with path length (sum of
haversine legs in timestamp order), straight-line displacement, duration,
and sinuosity.  One dual-dialect SQL string drives both the Spark plan and
the DuckDB oracle, so every float op is replayed exactly:

* legs are computed per-row with lag() inside ONE window partition per
  user (no self-join), zeroed across trip boundaries;
* the per-trip path SUM folds legs in (ts, event_id) order —
  collect_list → array_sort → aggregate, the engine's order-free float
  discipline — so the result is independent of partitioning;
* trip endpoints come from lexicographic struct min/max (ts, event_id,
  lat, lon) — partial-aggregatable, deterministic;
* duration uses tz-free fractional epoch seconds (micros/1e6 in both
  engines).

Scale shape: one shuffle on user_id for the window, one groupBy
(user, trip) with map-side combine; per-key state is a user's single trip
— bounded by the gap rule, never corpus-sized.  The reference has no
temporal surface at all; this is engine-side (SURVEY §2.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions.portable import DUCK, SPARK, flit, haversine_m


def _ep(d: str):
    if d == SPARK:
        return lambda c: (
            f"(timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', {c}) / 1.0e6)"
        )
    return lambda c: f"epoch({c})"


def trip_stats_sql(d: str, fixes: str, gap_s: float = 1800.0) -> str:
    """(user_id, trip, n_points, duration_s, path_m, displacement_m,
    sinuosity) of the fixes (user_id, event_id, ts, lat, lon) in relation
    ``fixes`` — trips are 1-based per user in time order."""
    ep = _ep(d)
    gap = f"{ep('ts')} - {ep('lag(ts) over w')}"
    leg = haversine_m(
        "lag(lat) over w", "lag(lon) over w", "lat", "lon", d
    )
    if d == SPARK:
        fold = (
            "aggregate(transform(array_sort(collect_list(struct(ts, event_id, leg))), "
            "x -> x.leg), cast(0.0 as double), (s, v) -> s + v)"
        )
        first_ = "min(struct(ts, event_id, lat, lon))"
        last_ = "max(struct(ts, event_id, lat, lon))"
    else:
        fold = (
            "list_reduce(list_prepend(0.0e0, list_transform("
            "list_sort(list(struct_pack(ts := ts, event_id := event_id, leg := leg))), "
            "x -> x.leg)), (s, v) -> s + v)"
        )
        first_ = "min(struct_pack(ts := ts, event_id := event_id, lat := lat, lon := lon))"
        last_ = "max(struct_pack(ts := ts, event_id := event_id, lat := lat, lon := lon))"
    disp = haversine_m("f0.lat", "f0.lon", "l0.lat", "l0.lon", d)
    return f"""
        with pts as (
            select user_id, event_id, ts, lat, lon from {fixes}
        ),
        flagged as (
            select user_id, event_id, ts, lat, lon,
                   case when ({gap}) is null or ({gap}) > {flit(gap_s)} then 1 else 0 end as brk,
                   case when ({gap}) is null or ({gap}) > {flit(gap_s)} then 0.0e0
                        else ({leg}) end as leg,
                   {ep('ts')} as eps
            from pts
            window w as (partition by user_id order by ts asc, event_id asc)
        ),
        tripped as (
            select *, cast(sum(brk) over w2 as bigint) as trip
            from flagged
            window w2 as (partition by user_id order by ts asc, event_id asc
                          rows between unbounded preceding and current row)
        ),
        agg as (
            select user_id, trip,
                   cast(count(*) as bigint) as n_points,
                   round(max(eps) - min(eps), 6) as duration_s,
                   round({fold}, 6) as path_m,
                   {first_} as f0,
                   {last_} as l0
            from tripped group by user_id, trip
        )
        select user_id, trip, n_points, duration_s, path_m,
               round({disp}, 6) as displacement_m,
               round(case when ({disp}) = 0.0e0 then 0.0e0 else path_m / ({disp}) end, 6)
                   as sinuosity
        from agg"""


def stay_points_sql(
    d: str,
    fixes: str,
    radius_m: float = 50.0,
    min_duration_s: float = 86400.0,
    min_points: int = 3,
) -> str:
    """Stay-point (stop/move segmentation) detection — the mobility primitive
    between raw fixes and trips (Li et al. 2008, "Mining user similarity
    based on location history"): a stay point is a maximal run of consecutive
    fixes where each fix is within ``radius_m`` of its predecessor, kept only
    if the run lasts ≥ ``min_duration_s`` and has ≥ ``min_points`` fixes.

    Deterministic throughout, one dual-dialect SQL string:

    * the "same place" edge is a DISTANCE rule (leg ≤ radius_m), not a speed
      rule — no division by possibly-zero time deltas;
    * run ids via the gaps-and-islands pattern already used by trips
      (break flag + running sum, ONE window partition per user);
    * centroids fold as bigint 1e-9-degree units (order-free integer sums),
      one double division at the end — partition-invariant like every other
      float fold in the engine.

    Input: the fixes (user_id, event_id, ts, lat, lon) in relation
    ``fixes``.  Output: (user_id, stop_seq, n_points, duration_s, clat,
    clon, start_eps, end_eps), stop_seq 1-based per user in time order.

    Scale shape: one shuffle on user_id for the windows, one map-side
    combined groupBy (user, run); the renumber window runs over the
    aggregated stop table (≪ corpus). The reference has no temporal or
    mobility surface; this is engine-side (SURVEY §2.3).
    """
    ep = _ep(d)
    leg = haversine_m("lag(lat) over w", "lag(lon) over w", "lat", "lon", d)
    q = "cast(round({} * 1.0e9) as bigint)"
    return f"""
        with pts as (
            select user_id, event_id, ts, lat, lon from {fixes}
        ),
        flagged as (
            select user_id, event_id, ts, lat, lon, {ep('ts')} as eps,
                   case when ({leg}) is null or ({leg}) > {flit(radius_m)}
                        then 1 else 0 end as brk
            from pts
            window w as (partition by user_id order by ts asc, event_id asc)
        ),
        runs as (
            select *, cast(sum(brk) over w2 as bigint) as run_id
            from flagged
            window w2 as (partition by user_id order by ts asc, event_id asc
                          rows between unbounded preceding and current row)
        ),
        agg as (
            select user_id, run_id,
                   cast(count(*) as bigint) as n_points,
                   round(max(eps) - min(eps), 6) as duration_s,
                   sum({q.format('lat')}) as lat_n,
                   sum({q.format('lon')}) as lon_n,
                   round(min(eps), 6) as start_eps,
                   round(max(eps), 6) as end_eps
            from runs group by user_id, run_id
        ),
        stops as (
            select user_id, run_id, n_points, duration_s, start_eps, end_eps,
                   round(lat_n / (n_points * 1.0e9), 9) as clat,
                   round(lon_n / (n_points * 1.0e9), 9) as clon
            from agg
            where n_points >= {min_points}
              and duration_s >= {flit(min_duration_s)}
        )
        select user_id,
               cast(row_number() over (partition by user_id
                                       order by start_eps asc, run_id asc)
                    as bigint) as stop_seq,
               n_points, duration_s, clat, clon, start_eps, end_eps
        from stops
    """


def od_matrix_sql(d: str, res: int = 10, k_anon: int = 2, traj_table: str = "geo_traj") -> str:
    """Origin-destination flow matrix with k-anonymity suppression — one
    dual-dialect SQL string: each trajectory contributes one (origin_cell →
    dest_cell) trip (origin = fix at MIN step, destination at MAX step, both
    via lexicographic struct min/max — partial-aggregatable, deterministic);
    flows observed in fewer than ``k_anon`` trajectories are SUPPRESSED (the
    standard mobility-privacy release rule: rare OD pairs re-identify).

    Output: (o_cell, d_cell, n_trips) for surviving flows plus the audit of
    what suppression cost: every suppressed flow collapses into one row with
    o_cell = d_cell = -1 carrying the suppressed trip count (so totals still
    reconcile without revealing rare pairs).

    Scale: one groupBy(traj) with struct min/max + one groupBy(o,d) count,
    both map-side combined; nothing corpus-sized crosses a second shuffle.
    """
    from ..functions import geo
    from ..functions.portable import SPARK as _S

    if d == _S:
        omin = "min(named_struct('s', step, 'la', lat, 'lo', lon))"
        omax = "max(named_struct('s', step, 'la', lat, 'lo', lon))"
    else:
        omin = "min(struct_pack(s := step, la := lat, lo := lon))"
        omax = "max(struct_pack(s := step, la := lat, lo := lon))"
    oc = geo.quad_cell("(o).la", "(o).lo", res, d)
    dc = geo.quad_cell("(t).la", "(t).lo", res, d)
    return f"""
        with ends as (
            select traj_id, {omin} as o, {omax} as t
            from {traj_table} group by traj_id
        ),
        flows as (
            select {oc} as o_cell, {dc} as d_cell, count(*) as n_trips
            from ends group by 1, 2
        )
        select o_cell, d_cell, cast(n_trips as bigint) as n_trips
        from flows where n_trips >= {k_anon}
        union all
        select cast(-1 as bigint) as o_cell, cast(-1 as bigint) as d_cell,
               cast(coalesce(sum(n_trips), 0) as bigint) as n_trips
        from flows where n_trips < {k_anon}
    """


def encounters_sql(
    d: str,
    fixes: str,
    radius_m: float = 100.0,
    tau_s: float = 1800.0,
    res: int = 15,
) -> str:
    """Space-time co-location (encounter) join — pairs of DISTINCT users
    with fixes within ``radius_m`` meters AND ``tau_s`` seconds of each
    other (contact-graph / co-occurrence mining; the spatiotemporal sibling
    of the spatial-only distance join).

    One dual-dialect SQL string.  The all-pairs blowup is pruned on BOTH
    axes before any exact math: each fix gets a quad cell at ``res`` (cell
    edge ≥ radius_m, so the 3×3 ring is a guaranteed cover) and a
    ``tau_s``-wide time bucket (|Δt| ≤ tau ⇒ buckets differ by ≤ 1); the
    probe side expands to ring × {tb-1,tb,tb+1} (27 keys) and candidates
    come from a (cell, bucket) EQUI join — never a cross join — verified
    exactly by haversine + |Δeps|.  Each unordered fix pair surfaces
    exactly once (strict user_a < user_b; the build side keeps its single
    true (cell, bucket)).

    Input: the fixes (user_id, event_id, ts, lat, lon) in relation
    ``fixes``.  Output: (user_a, user_b, n_encounters, first_eps, last_eps).

    Scale shape: scan-parallel 27× fan-out on the probe side only, one
    shuffle each side keyed (cell, bucket) — dense-venue skew is an AQE
    skew-join split, never a driver concern; the verify runs per candidate
    pair inside codegen.  Reference has no temporal surface; engine-side
    (SURVEY §2.3).
    """
    from ..functions import geo

    ep = _ep(d)
    cell = geo.quad_cell("lat", "lon", res, d)
    kring = geo.quad_kring("cell", res, 1, d)
    hav = haversine_m("a.lat", "a.lon", "b.lat", "b.lon", d)
    if d == SPARK:
        jkeys = (
            f"flatten(transform({kring}, cc -> "
            "transform(sequence(tb - 1, tb + 1), "
            "tt -> named_struct('jc', cc, 'jt', tt))))"
        )
        cand_from = "from expanded lateral view explode(jkeys) t as j"
    else:
        jkeys = (
            f"flatten(list_transform({kring}, cc -> "
            "list_transform(generate_series(cast(tb - 1 as bigint), "
            "cast(tb + 1 as bigint)), tt -> {'jc': cc, 'jt': tt})))"
        )
        cand_from = "from expanded, unnest(jkeys) t(j)"
    return f"""
        with fixes as (
            select user_id, event_id, {ep('ts')} as eps, lat, lon from {fixes}
        ),
        cells as (
            select user_id, event_id, eps, lat, lon,
                   {cell} as cell,
                   cast(floor(eps / {flit(tau_s)}) as bigint) as tb
            from fixes
        ),
        expanded as (
            select user_id, event_id, eps, lat, lon, {jkeys} as jkeys
            from cells
        ),
        cand as (
            select user_id, event_id, eps, lat, lon, j.jc as jc, j.jt as jt
            {cand_from}
        ),
        hits as (
            select a.user_id as user_a, b.user_id as user_b,
                   least(a.eps, b.eps) as t0, greatest(a.eps, b.eps) as t1
            from cand a join cells b
              on a.jc = b.cell and a.jt = b.tb and a.user_id < b.user_id
            where ({hav}) <= {flit(radius_m)}
              and abs(a.eps - b.eps) <= {flit(tau_s)}
        )
        select user_a, user_b,
               cast(count(*) as bigint) as n_encounters,
               round(min(t0), 6) as first_eps,
               round(max(t1), 6) as last_eps
        from hits
        group by user_a, user_b
    """


def speed_filter_sql(d: str, fixes: str, vmax_ms: float = 40.0) -> str:
    """GPS spike (teleport) filter — the standard trajectory-cleaning pass
    before any mobility analytics: a fix is an outlier iff EVERY available
    adjacent leg implies speed > ``vmax_ms`` (interior fixes need both legs
    fast; endpoints are judged on their single leg; a genuine fast leg
    between two good fixes flags neither, because each keeps one slow leg).
    Isolated single-fix users are never flagged (no evidence).

    One dual-dialect SQL string: one window per user (lag+lead share the
    frame), speeds = haversine leg / Δt with Δt=0 guarded to null, and
    null-speed legs count as exceeding (missing evidence can't save a fix
    that the other leg convicts) — all decisions are boolean comparisons,
    so the gate is exact as long as speeds stay off the threshold.

    Input: the fixes (user_id, event_id, ts, lat, lon) in relation
    ``fixes``.  Output: (user_id, event_id, eps, is_outlier).  Scale
    shape: one shuffle on user_id, one window, zero joins.  Engine-side
    (SURVEY §2.3).
    """
    ep = _ep(d)
    leg_prev = haversine_m("lag(lat) over w", "lag(lon) over w", "lat", "lon", d)
    leg_next = haversine_m("lat", "lon", "lead(lat) over w", "lead(lon) over w", d)
    sp_prev = f"(({leg_prev}) / nullif(eps - (lag(eps) over w), 0.0e0))"
    sp_next = f"(({leg_next}) / nullif((lead(eps) over w) - eps, 0.0e0))"
    return f"""
        with fixes as (
            select user_id, event_id, {ep('ts')} as eps, lat, lon from {fixes}
        ),
        sp as (
            select user_id, event_id, eps,
                   {sp_prev} as sp_prev, {sp_next} as sp_next,
                   lag(eps) over w as prev_eps, lead(eps) over w as next_eps
            from fixes
            window w as (partition by user_id order by eps asc, event_id asc)
        )
        select user_id, event_id, round(eps, 6) as eps,
               case when prev_eps is null and next_eps is null then false
                    else coalesce(sp_prev > {flit(vmax_ms)}, true)
                         and coalesce(sp_next > {flit(vmax_ms)}, true)
               end as is_outlier
        from sp
    """


def geofence_events(
    fixes: DataFrame,
    polys: DataFrame,
    res: int = 8,
    broadcast_polygons: bool = True,
) -> DataFrame:
    """Geofence transition detection — the mobility primitive behind
    enter/exit alerting: bind every fix to its containing zone (min zone_id
    when zones overlap, deterministic), then emit one row per per-user
    state CHANGE in time order: ``enter`` (outside→zone, including a first
    fix already inside), ``exit`` (zone→outside), ``switch`` (zone→other
    zone).  Fixes that stay in the same state emit nothing.

    Input: fixes (user_id, event_id, eps, lat, lon), polys (zone_id,
    pos_list).  Output: (user_id, event_id, eps, prev_zone, zone, kind);
    "outside" is pinned to zone = -1 (nullable bigints become NaN-bearing
    float columns in pandas canonicalizers, and NaN != NaN).

    Scale shape: the zone binding is a ONE-PASS left cell-cover join (the
    pip.py cover discipline, but LEFT so misses ride along as null — no
    join-back onto the fixes plan), broadcast for dimension-sized zone sets
    or cell equi-join otherwise; the exact ray-cast runs inside the
    min-zone aggregate's filter; then ONE window shuffle on user_id.  The
    change detection is lag() + null-safe compare — no self-join, no state
    held anywhere.
    """
    from pyspark.sql import functions as F

    from ..functions import geo
    from .tiling import cover_cells

    # one-pass LEFT binding: the fixes plan is consumed exactly once (no
    # join-back self-join), unmatched fixes keep zone = null for free, and
    # the exact ray-cast runs inside the aggregate's filter.  The cover is
    # CLASSIFIED (pip.py discipline): bbox-only cells (class 0) never enter
    # the join, interior cells (class 2) bind without the ray-cast — at a
    # res where cells are zone-sized, per-fix candidates are O(overlapping
    # zones), not O(zones sharing a country-sized cell) (the res-8 form
    # measured 219 s at sf0.1; this one ~3 s, same rows)
    cov = cover_cells(polys, "zone_id", res, "quad", keep=("pos_list",)).withColumn(
        "cls", F.expr(geo.quad_cell_classify("cell", "pos_list", res, SPARK))
    ).where(F.col("cls") > 0)
    dim = F.broadcast(cov) if broadcast_polygons else cov
    fx = fixes.withColumn("cell", geo.quad_cell_col("lat", "lon", res))
    pip = geo.point_in_polygon("lat", "lon", "pos_list", SPARK)
    inside = f"case when cls = 2 then true else ({pip}) end"
    seq = (
        fx.join(dim, "cell", "left")
        .groupBy("user_id", "event_id", "eps")
        .agg(F.min(F.when(F.expr(inside), F.col("zone_id"))).alias("zone"))
    )
    return fixes.sparkSession.sql(
        """
        with win as (
            select user_id, event_id, eps, zone,
                   lag(zone) over w as prev_zone,
                   row_number() over w as rn
            from {seq}
            window w as (partition by user_id order by eps asc, event_id asc)
        )
        select user_id, event_id, round(eps, 6) as eps,
               coalesce(prev_zone, -1) as prev_zone,
               coalesce(zone, -1) as zone,
               case when zone is not null and prev_zone is null then 'enter'
                    when zone is null then 'exit'
                    else 'switch' end as kind
        from win
        where (rn = 1 and zone is not null)
           or (rn > 1 and not (zone <=> prev_zone))
        """,
        seq=seq,
    )


def geofence_events_oracle_sql(
    fixes_cte: str = "gf_fixes", polys_cte: str = "geo_polys"
) -> str:
    """DuckDB replay with an INDEPENDENT spatial plan: brute cross-join
    ray-cast (no cell cover, so the cover join itself is under test), then
    the identical window logic."""
    from ..functions import geo

    pip = geo.point_in_polygon("f.lat", "f.lon", "p.pos_list", DUCK)
    return f"""
        hits as (
            select f.event_id as pid, min(p.zone_id) as zone
            from {fixes_cte} f join {polys_cte} p on {pip}
            group by f.event_id
        ),
        seq as (
            select f.user_id, f.event_id, f.eps, h.zone
            from {fixes_cte} f left join hits h on f.event_id = h.pid
        ),
        win as (
            select user_id, event_id, eps, zone,
                   lag(zone) over w as prev_zone,
                   row_number() over w as rn
            from seq
            window w as (partition by user_id order by eps asc, event_id asc)
        )
        select user_id, event_id, round(eps, 6) as eps,
               coalesce(prev_zone, -1) as prev_zone,
               coalesce(zone, -1) as zone,
               case when zone is not null and prev_zone is null then 'enter'
                    when zone is null then 'exit'
                    else 'switch' end as kind
        from win
        where (rn = 1 and zone is not null)
           or (rn > 1 and zone is distinct from prev_zone)
    """


def geometric_median_sql(d: str, fixes: str, k_iters: int = 5) -> str:
    """Per-user geometric median (Weiszfeld 1937) — the robust "home
    location" estimator: unlike the centroid, one teleport outlier barely
    moves it.  ``k_iters`` fixed-point rounds, UNROLLED as chained
    projection stages (the DTW/map_match discipline), entirely in SQL.

    Float discipline: the point metric is the trig-free equirectangular
    distance (multiply/add/sqrt — every op correctly-rounded IEEE and
    identical across engines, no libm last-ulp concerns), the fixes fold in
    array order (arrays built by array_sort on event_id, J2
    order-carried-in-data), and the seed is the integer-quantized centroid
    — so all ``k_iters`` rounds produce bit-identical doubles in Spark and
    DuckDB and the gate is exact.  Zero-distance fixes are smoothed with a
    1e-9-degree floor (standard Weiszfeld regularization).

    Input: the fixes (user_id, event_id, ts, lat, lon) in relation
    ``fixes``.  Output: (user_id, n_fixes, mlat, mlon).  Scale shape: ONE shuffle
    (groupBy user collecting the fix arrays, map-side combined); all
    iterations are per-row expressions over the arrays — no joins, no
    driver loop, no per-iteration jobs.  Per-user state is that user's
    fixes (sessionize first for unbounded streams).
    """
    from ..functions.portable import reduce_, transform as tr

    COS0 = 0.5225  # fixed equirectangular lon scale, matches plans.queries
    if d == SPARK:
        las = "transform(array_sort(collect_list(struct(event_id as e, lat as v))), x -> x.v)"
        los = "transform(array_sort(collect_list(struct(event_id as e, lon as v))), x -> x.v)"
        el = lambda arr, i: f"{arr}[{i} - 1]"
        idx = "sequence(1, n)"
    else:
        las = "list(lat order by event_id)"
        los = "list(lon order by event_id)"
        el = lambda arr, i: f"{arr}[{i}]"
        idx = "generate_series(1, n)"
    q = "cast(round({} * 1.0e9) as bigint)"

    def dist(xla: str, xlo: str, i: str = "i") -> str:
        dla = f"({el('las', i)} - {xla})"
        dlo = f"(({el('los', i)} - {xlo}) * {flit(COS0)})"
        return f"sqrt({dla} * {dla} + {dlo} * {dlo})"

    def fold(body: str, xla: str, xlo: str) -> str:
        w = f"(1.0e0 / greatest({dist(xla, xlo)}, 1.0e-9))"
        lst = tr(idx, "i", body.format(w=w), d)
        return reduce_(lst, "0.0e0", "s", "v", "s + v", d)

    stage_cols = []
    for r in range(1, int(k_iters) + 1):
        xla, xlo = f"x{r - 1}", f"y{r - 1}"
        stage_cols.append(
            [
                f"{fold('{w}', xla, xlo)} as den{r}",
                f"{fold('{w} * ' + el('las', 'i'), xla, xlo)} as nla{r}",
                f"{fold('{w} * ' + el('los', 'i'), xla, xlo)} as nlo{r}",
            ]
        )
        stage_cols.append([f"nla{r} / den{r} as x{r}", f"nlo{r} / den{r} as y{r}"])
    k = int(k_iters)
    stages_sql = ""
    prev = "seed"
    for s, cols in enumerate(stage_cols):
        stages_sql += f", st{s} as (select *, {', '.join(cols)} from {prev})\n"
        prev = f"st{s}"
    return f"""
        with fixes as (select user_id, event_id, lat, lon from {fixes}),
        agg as (
            select user_id, cast(count(*) as bigint) as n,
                   {las} as las, {los} as los,
                   sum({q.format('lat')}) as la_n,
                   sum({q.format('lon')}) as lo_n
            from fixes group by user_id
        ),
        seed as (
            select user_id, n, las, los,
                   la_n / (n * 1.0e9) as x0,
                   lo_n / (n * 1.0e9) as y0
            from agg
        ){stages_sql}
        select user_id, n as n_fixes,
               round(x{k}, 9) as mlat, round(y{k}, 9) as mlon
        from {prev}
    """


def resample_track_sql(d: str, fixes: str, step_s: int = 21600) -> str:
    """Fixed-interval trajectory resampling — the time-normalization pass
    every mobility pipeline runs before comparing tracks (irregular GPS
    fixes → one position per grid tick): for each consecutive fix pair
    (t0,p0)→(t1,p1) of a user, every grid time ``k·step`` in the half-open
    window (t0, t1] gets the linearly interpolated position.  Half-open
    intervals make each tick belong to exactly one segment (a tick landing
    exactly on a fix reproduces that fix's position via frac = 1).

    Float discipline: grid arithmetic is pure bigint epoch-MICROSECONDS
    (``timestampdiff``/``epoch_us``, integer div for the tick range), and
    the only float ops are two bigint→double casts, one division, and the
    fused ``p0 + (p1-p0)·frac`` — a fixed correctly-rounded IEEE sequence,
    bit-identical across engines, so the gate is exact.  Duplicate-time
    fixes contribute no window (t1 > t0 filter) and can never divide by
    zero.

    Input: the fixes (user_id, event_id, ts, lat, lon) in relation
    ``fixes``.  Output: (user_id, tick, gts, rlat, rlon) where gts = tick·step epoch
    seconds.  Scale shape: ONE shuffle (the per-user lead window); the
    grid explode is scan-parallel, zero joins; per-key state is one fix
    pair, never a whole track.  Engine-side (SURVEY §2.3).
    """
    step_us = int(step_s) * 1_000_000
    if d == SPARK:
        tus = "timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', ts)"
        idiv = lambda a: f"({a} div {step_us})"
    else:
        tus = "epoch_us(ts)"
        idiv = lambda a: f"({a} // {step_us})"
    frac = f"(cast(k * {step_us} - t0 as double) / cast(t1 - t0 as double))"
    if d == SPARK:
        grid_src = (
            "select user_id, t0, t1, la0, lo0, la1, lo1, "
            "explode(sequence(k_lo, k_hi)) as k from seg where k_lo <= k_hi"
        )
    else:
        grid_src = (
            "select user_id, t0, t1, la0, lo0, la1, lo1, t.k as k "
            "from seg, unnest(generate_series(k_lo, k_hi)) t(k) "
            "where k_lo <= k_hi"
        )
    return f"""
        with fixes as (
            select user_id, event_id, {tus} as tus, lat, lon from {fixes}
        ),
        seg as (
            select user_id, tus as t0, lead(tus) over w as t1,
                   lat as la0, lon as lo0,
                   lead(lat) over w as la1, lead(lon) over w as lo1,
                   {idiv('tus')} + 1 as k_lo,
                   {idiv('lead(tus) over w')} as k_hi
            from fixes
            window w as (partition by user_id order by tus asc, event_id asc)
        ),
        grid as ({grid_src})
        select user_id, k as tick,
               round(k * {flit(float(step_s))}, 6) as gts,
               round(la0 + (la1 - la0) * {frac}, 9) as rlat,
               round(lo0 + (lo1 - lo0) * {frac}, 9) as rlon
        from grid
        where t1 > t0
    """


# ---------------------------------------------------------------------------
# Flow rose: per-cell movement-direction histogram
# ---------------------------------------------------------------------------
def flow_rose_sql(d: str, res: int = 9, traj_table: str = "geo_traj") -> str:
    """Per-cell 8-sector direction rose — the flow-map primitive (where does
    traffic through this tile head?): every consecutive fix pair contributes
    one leg to the quad cell of its START fix, classified into compass
    octants E=0, NE=1, N=2, ... SE=7.

    Trig-free octant: the 22.5° sector boundaries are decided by comparing
    |dlat| / |dlon| against tan(22.5°)·|other| — one float literal, one
    multiply, one compare, in a FIXED-order CASE, so both engines classify
    every leg identically (boundary legs deterministically too).  Zero-length
    legs are dropped.  Leg length is haversine meters rounded to integer mm,
    so per-cell totals fold exactly.

    Scale: one lead() window per trajectory (the only corpus shuffle) + one
    map-side-combined groupBy over (cell, octant) — the output is
    cell-table-sized, never corpus-sized."""
    import math as _m

    from ..functions import geo

    t = flit(_m.tan(_m.radians(22.5)))
    lead_la = "lead(lat) over (partition by traj_id order by step)"
    lead_lo = "lead(lon) over (partition by traj_id order by step)"
    cell = geo.quad_cell("lat", "lon", res, d)
    dist = haversine_m("lat", "lon", "nlat", "nlon", d)
    return f"""
        with legs as (
            select traj_id, lat, lon, {lead_la} as nlat, {lead_lo} as nlon
            from {traj_table}
        ),
        classified as (
            select {cell} as cell,
                   (case
                        when adx = 0.0e0 and ady = 0.0e0 then -1
                        when ady <= {t} * adx then (case when dlon > 0.0e0 then 0 else 4 end)
                        when adx <= {t} * ady then (case when dlat > 0.0e0 then 2 else 6 end)
                        when dlon > 0.0e0 and dlat > 0.0e0 then 1
                        when dlon < 0.0e0 and dlat > 0.0e0 then 3
                        when dlon < 0.0e0 and dlat < 0.0e0 then 5
                        else 7
                    end) as octant,
                   cast(round(({dist}) * 1000.0e0) as bigint) as len_mm
            from (
                select lat, lon, nlat, nlon,
                       (nlat - lat) as dlat, (nlon - lon) as dlon,
                       abs(nlon - lon) as adx, abs(nlat - lat) as ady
                from legs where nlat is not null
            )
        )
        select cell, octant,
               cast(count(*) as bigint) as n_legs,
               cast(sum(len_mm) as bigint) as total_mm
        from classified
        where octant >= 0
        group by cell, octant
    """


# ---------------------------------------------------------------------------
# Gravity model fit via IPF (iterative proportional fitting)
# ---------------------------------------------------------------------------
def gravity_ipf_sql(
    d: str,
    res: int = 10,
    rounds: int = 2,
    traj_table: str = "geo_traj",
) -> str:
    """Transport-modeling primitive on top of the OD matrix: fit a gravity
    model T_ij = a_i · b_j · f(dist_ij) to the observed origin/destination
    margins by ``rounds`` full IPF passes (row-scale to O_i, column-scale
    to D_j), seeded with the impedance f = 1/(1 + dist²) between cell
    centers over the full origin×destination support.

    Exact cross-engine: the matrix state lives in integer NANO units —
    every scaling step is floor(state · factor + 0.5) where factor =
    (target·1e9)/current_sum is ONE division of exact integer operands, and
    the margin sums are integer folds (order-free).  The unrolled rounds
    are window sums over the pair table, so each pass is one hash shuffle
    of a |O|·|D| table — cell-table-sized squared, never trajectory-sized
    (the corpus is touched once, building the margins).

    Output: (o_cell, d_cell, t_nano) — fitted trips in nano units."""
    from ..functions import geo

    cos0 = "0.5225e0"  # equirectangular COSLAT0, engine-wide constant
    n = 2**res
    latstep, lonstep = 180.0 / n, 360.0 / n

    def center(cell, axis):
        ix, iy = geo.quad_unpack(cell, res, d)
        if axis == "lat":
            return f"((cast({iy} as double) + 0.5e0) * {flit(latstep)} - 90.0e0)"
        return f"((cast({ix} as double) + 0.5e0) * {flit(lonstep)} - 180.0e0)"

    if d == SPARK:
        omin = "min(named_struct('s', step, 'la', lat, 'lo', lon))"
        omax = "max(named_struct('s', step, 'la', lat, 'lo', lon))"
    else:
        omin = "min(struct_pack(s := step, la := lat, lo := lon))"
        omax = "max(struct_pack(s := step, la := lat, lo := lon))"
    oc = geo.quad_cell("(o).la", "(o).lo", res, d)
    dc = geo.quad_cell("(t).la", "(t).lo", res, d)
    ola, olo = center("o_cell", "lat"), center("o_cell", "lon")
    dla, dlo = center("d_cell", "lat"), center("d_cell", "lon")
    dist2 = (
        f"(({dla} - {ola}) * ({dla} - {ola}) + "
        f"({cos0} * ({dlo} - {olo})) * ({cos0} * ({dlo} - {olo})))"
    )
    q = lambda x: f"cast(floor(({x}) * 1000000000.0e0 + 0.5e0) as bigint)"
    qi = lambda x: f"cast(floor(({x}) + 0.5e0) as bigint)"
    ctes = [
        f"""ends as (
            select traj_id, {omin} as o, {omax} as t
            from {traj_table} group by traj_id
        )""",
        f"""flows as (
            select {oc} as o_cell, {dc} as d_cell,
                   cast(count(*) as bigint) as n_obs
            from ends group by 1, 2
        )""",
        """orig as (select o_cell, sum(n_obs) as o_tot from flows group by o_cell)""",
        """dest as (select d_cell, sum(n_obs) as d_tot from flows group by d_cell)""",
        f"""m0 as (
            select o.o_cell, d.d_cell, o.o_tot, d.d_tot,
                   {q(f"1.0e0 / (1.0e0 + {dist2})")} as m
            from orig o cross join dest d
        )""",
    ]
    prev = "m0"
    for r in range(rounds):
        ctes.append(
            f"""mr{r} as (
                select o_cell, d_cell, o_tot, d_tot,
                       {qi("cast(m as double) * ((cast(o_tot as double) * 1000000000.0e0) "
                           "/ cast(sum(m) over (partition by o_cell) as double))")} as m
                from {prev}
            )"""
        )
        ctes.append(
            f"""mc{r} as (
                select o_cell, d_cell, o_tot, d_tot,
                       {qi("cast(m as double) * ((cast(d_tot as double) * 1000000000.0e0) "
                           "/ cast(sum(m) over (partition by d_cell) as double))")} as m
                from mr{r}
            )"""
        )
        prev = f"mc{r}"
    return (
        "with " + ", ".join(ctes)
        + f" select o_cell, d_cell, m as t_nano from {prev}"
    )


# ---------------------------------------------------------------------------
# turn-point detection (heading-change corners, trig-free)
# ---------------------------------------------------------------------------
def turn_points_sql(d: str, fixes: str, coslat: float = 0.5225) -> str:
    """Corners in each user's track of fixes (user_id, event_id, ts, lat,
    lon) in relation ``fixes``: points where the heading change
    between the incoming and outgoing leg exceeds 45° — the maneuver /
    route-decision extractor map-matching and compression both feed on.

    Trig-free and integer-exact (the flow_rose discipline): coordinates
    project to equirectangular integer 1e-4-degree units (~11 m), legs are
    integer vectors, and the 45° test is the integer comparison
    ``dot < 0 OR 2·dot² < |a|²·|b|²`` — no acos, no floats, immune to
    engine libm differences.  Degenerate (zero-length) legs are excluded.
    Magnitude bound: |delta| ≤ ~1.3e4 units for fixes inside a 1° box ⇒
    dot² ≤ 1.2e17 < 2^63.

    Scale: one window (lag/lead) over ONE per-user sort — the sessionize
    shape; the corner test is a scan-parallel projection."""
    xq = f"cast(floor((lon * {coslat!r}e0) * 1.0e4 + 0.5e0) as bigint)"
    yq = "cast(floor(lat * 1.0e4 + 0.5e0) as bigint)"
    return f"""
        with pts as (
            select user_id, event_id, ts, lat, lon from {fixes}
        ),
        q as (
            select user_id, event_id, ts, {xq} as x, {yq} as y from pts
        ),
        legs as (
            select user_id, event_id,
                   x - (lag(x) over w) as ax, y - (lag(y) over w) as ay,
                   (lead(x) over w) - x as bx, (lead(y) over w) - y as by
            from q
            window w as (partition by user_id order by ts asc, event_id asc)
        ),
        corners as (
            select user_id, event_id,
                   ax * bx + ay * by as dotq,
                   ax * ax + ay * ay as a2,
                   bx * bx + by * by as b2
            from legs
            where ax is not null and bx is not null
        )
        select user_id, event_id,
               cast(dotq as bigint) as dot_q,
               cast(a2 as bigint) as a2,
               cast(b2 as bigint) as b2
        from corners
        where a2 > 0 and b2 > 0
          and (dotq < 0 or 2 * dotq * dotq < a2 * b2)"""

