"""Trajectory queries over the track fixtures: trip segmentation, stay
points, spike filtering, map matching, similarity joins (Hausdorff, DTW,
EDR, Fréchet), space-time clustering, OD flows and movement statistics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ...functions import geo
from ...functions.portable import DUCK, SPARK, concat_str, flit, haversine_m, phash60
from ...operators import clustering, mapmatch, pip, trajectory, trajsim
from ...operators.trajectory import _ep
from .corpus import (
    COSLAT0, DLAT, DLON, LAT_LO, LON_LO, _MM_STEPS, _pr, event_fixes_sql,
    register_geometry_views, sql_query, traj_sql, with_fixtures,
)

# ---------------------------------------------------------------------------
# GPS fixtures over the sf events (user_id, event_id, ts, lat, lon): the
# events carry no coordinates, so each fixture places them by hash, shaped
# for the operator it feeds; corpus.event_fixes_sql is the uniform one
# ---------------------------------------------------------------------------
_DWELL_LEN = 6  # fixes per dwell phase
_N_VENUES = 24
_VENUE_PHASE_S = 21600.0  # a user stays at one venue per 6-hour phase
_TELEPORT_MOD = 7  # one fix in ~7 teleports


def dwell_fixes_sql(d: str) -> str:
    """Dwell-phase fixes: each user's timeline is cut into 6-fix phases,
    each phase anchored at a hash-keyed point in BBOX with ±1e-4 deg
    jitter (~±11 m) — so intra-phase legs are ≤ ~25 m (well under the
    50 m stay radius) and inter-phase jumps are km-scale (well over),
    keeping the threshold off the haversine last-ulp boundary (see
    haversine_m's libm-vs-java caveat)."""
    idiv = "div" if d == SPARK else "//"
    alat = _pr(["'sp:alat:'", "user_id", "':'", "bucket"], d)
    alon = _pr(["'sp:alon:'", "user_id", "':'", "bucket"], d)
    jlat = _pr(["'sp:jlat:'", "event_id"], d)
    jlon = _pr(["'sp:jlon:'", "event_id"], d)
    return f"""
        select user_id, event_id, ts,
               {flit(LAT_LO)} + {alat} * {flit(DLAT)} + ({jlat} - 0.5e0) * 2.0e-4 as lat,
               {flit(LON_LO)} + {alon} * {flit(DLON)} + ({jlon} - 0.5e0) * 2.0e-4 as lon
        from (
            select user_id, event_id, ts,
                   (row_number() over (partition by user_id
                                       order by ts asc, event_id asc) - 1)
                       {idiv} {_DWELL_LEN} as bucket
            from events
        ) seqd"""


def venue_fixes_sql(d: str) -> str:
    """Venue fixes: users dwell at hash-chosen venues — vid =
    phash60(user, 6h-phase) mod 24, position = venue anchor ± ~28 m jitter
    — so same-venue-same-phase users genuinely encounter and cross-venue
    fixes are km apart, keeping the 100 m / 30 min encounter thresholds
    far from float boundaries."""
    ep = _ep(d)
    vid = phash60(concat_str(["'enc:v:'", "user_id", "':'", "phase"], d), d)
    vlat = _pr(["'enc:vlat:'", "vid"], d)
    vlon = _pr(["'enc:vlon:'", "vid"], d)
    jla = _pr(["'enc:jla:'", "event_id"], d)
    jlo = _pr(["'enc:jlo:'", "event_id"], d)
    return f"""
        select user_id, event_id, ts,
               {flit(LAT_LO)} + {vlat} * {flit(DLAT)} + ({jla} - 0.5e0) * 5.0e-4 as lat,
               {flit(LON_LO)} + {vlon} * {flit(DLON)} + ({jlo} - 0.5e0) * 5.0e-4 as lon
        from (
            select user_id, event_id, ts, {vid} % {_N_VENUES} as vid
            from (
                select user_id, event_id, ts,
                       cast(floor({ep('ts')} / {flit(_VENUE_PHASE_S)}) as bigint) as phase
                from events
            ) ev
        ) vn"""


def teleport_fixes_sql(d: str) -> str:
    """Teleport fixes: each user random-walks ±28 m around a per-user
    anchor at their real event times, except every fix whose 60-bit hash
    ≡ 0 (mod 7) teleports ~1° north — a classic spike the speed filter
    must flag while its neighbors survive (jitter legs are ~0.1 m/s,
    teleports ~300+ m/s, both far from the 40 m/s threshold)."""
    alat = _pr(["'spd:alat:'", "user_id"], d)
    alon = _pr(["'spd:alon:'", "user_id"], d)
    jla = _pr(["'spd:jla:'", "event_id"], d)
    jlo = _pr(["'spd:jlo:'", "event_id"], d)
    tp = phash60(concat_str(["'spd:tp:'", "event_id"], d), d)
    tele = f"({tp} % {_TELEPORT_MOD} = 0)"
    return f"""
        select user_id, event_id, ts,
               {flit(LAT_LO)} + {alat} * {flit(DLAT)} + ({jla} - 0.5e0) * 5.0e-4
                   + case when {tele} then 1.0e0 else 0.0e0 end as lat,
               {flit(LON_LO)} + {alon} * {flit(DLON)} + ({jlo} - 0.5e0) * 5.0e-4 as lon
        from events"""


def _trips_sql(d: str) -> str:
    """Trajectory trip segmentation + movement stats (path via order-free
    sorted leg fold, endpoints via struct min/max)."""
    return trajectory.trip_stats_sql(d, f"({event_fixes_sql(d, 'tr')}) fx")


def _stay_points_sql(d: str) -> str:
    """Stay-point detection (stop/move segmentation, Li et al. 2008 shape):
    distance-rule runs + duration/count gates, integer-fold centroids."""
    return trajectory.stay_points_sql(d, f"({dwell_fixes_sql(d)}) fx")


def _encounters_sql(d: str) -> str:
    """Space-time co-location join: user pairs within 100 m AND 30 min,
    pruned by (quad cell ring × time-bucket) equi join before exact
    haversine/Δt verify (trajectory.encounters_sql)."""
    return trajectory.encounters_sql(d, f"({venue_fixes_sql(d)}) fx")


def _speed_filter_sql(d: str) -> str:
    """GPS spike filter: a fix is an outlier iff every available adjacent
    leg implies speed > 40 m/s, over the teleport fixture
    (trajectory.speed_filter_sql)."""
    return trajectory.speed_filter_sql(d, f"({teleport_fixes_sql(d)}) fx")


def _gf_fixes_sql(d: str) -> str:
    """Geofence fixes (user_id, event_id, eps, lat, lon): one uniform
    hash-placed point per event (zone coverage density is SF-constant by
    the polys fixture design, so fixes flip in/out of zones constantly)."""
    return (
        f"select user_id, event_id, {_ep(d)('ts')} as eps, lat, lon "
        f"from ({event_fixes_sql(d, 'gf')}) fx"
    )


def q_geofence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geofence enter/exit/switch events: PIP zone binding (classified
    cell-cover join at a res where cells are zone-sized — res 8 measured
    219 s at sf0.1 from country-cell fan-out, res 14 measures 9 s, same
    rows) + per-user lag-window change detection (trajectory.
    geofence_events); the oracle binds zones with a brute cross-join
    ray-cast — an independent spatial plan."""
    register_geometry_views(spark, sf_dir)
    fixes = spark.sql(_gf_fixes_sql(SPARK))
    return trajectory.geofence_events(fixes, spark.table("geo_polys"), res=14)


def q_geofence_oracle() -> str:
    return with_fixtures(
        f"with gf_fixes as ({_gf_fixes_sql(DUCK)}), "
        f"{trajectory.geofence_events_oracle_sql('gf_fixes', 'geo_polys')}",
        DUCK,
    )


# ---------------------------------------------------------------------------
# HMM (Viterbi) map-matching
# ---------------------------------------------------------------------------
_MM_RADIUS = 600.0
_MM_PENALTY = 150_000  # 150 m switch penalty in mm


def q_map_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi map-matching: 6-fix tracks bound to the cost-optimal segment
    path (integer mm emissions + flat switch penalty, operators/mapmatch.py);
    greedy nearest-segment snap would zigzag, the DP stays put."""
    register_geometry_views(spark, sf_dir)
    return mapmatch.map_match(
        spark.table("geo_traj"),
        spark.table("geo_polys"),
        radius_m=_MM_RADIUS,
        switch_penalty_mm=_MM_PENALTY,
        res=13,
    )


def q_map_match_oracle() -> str:
    body = mapmatch.map_match_oracle_sql(
        points_cte="geo_traj",
        lines_cte="geo_polys",
        radius_m=_MM_RADIUS,
        k_unroll=_MM_STEPS - 1,
        switch_penalty_mm=_MM_PENALTY,
    )
    return with_fixtures(f"with {body}", DUCK)


# ---------------------------------------------------------------------------
# Trajectory similarity join (Hausdorff)
# ---------------------------------------------------------------------------
_HAUS_R = 8000.0


def q_hausdorff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All track pairs within 8 km symmetric Hausdorff distance over the
    geo_traj fixture: padded-bbox cover prefilter + exact HOF refine
    (operators/trajsim.py)."""
    register_geometry_views(spark, sf_dir)
    return trajsim.hausdorff_join(spark.table("geo_traj"), radius_m=_HAUS_R, res=12)


def q_hausdorff_oracle() -> str:
    body = trajsim.hausdorff_join_oracle_sql(
        f"select * from ({traj_sql(DUCK)}) _t", radius_m=_HAUS_R
    )
    return with_fixtures(f"with __h as ({body}) select * from __h", DUCK)


_DTW_C = 30000.0  # total alignment cost budget (m)


def q_dtw_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DTW trajectory-similarity join over the geo_traj fixture: padded
    bbox-cover candidates (complete: DTW >= d(A1,B1)) + mm-integer
    anti-diagonal-unrolled DP (trajsim.dtw_join)."""
    register_geometry_views(spark, sf_dir)
    return trajsim.dtw_join(
        spark.table("geo_traj"), max_cost_m=_DTW_C, n_steps=_MM_STEPS, res=12
    )


def q_dtw_join_oracle() -> str:
    body = trajsim.dtw_join_oracle_sql(
        f"select * from ({traj_sql(DUCK)}) _t", max_cost_m=_DTW_C, n_steps=_MM_STEPS
    )
    return with_fixtures(f"with __d as ({body}) select * from __d", DUCK)


def _geometric_median_sql(d: str) -> str:
    """Per-user Weiszfeld geometric median, 5 unrolled rounds over the fix
    arrays in one shuffle; trig-free metric keeps every float op identical
    across engines (trajectory.geometric_median_sql)."""
    return trajectory.geometric_median_sql(d, f"({event_fixes_sql(d, 'gm')}) fx", k_iters=5)


def _resample_sql(d: str) -> str:
    """Fixed-interval track resampling: per-user linear interpolation at
    6-hour grid ticks, pure-integer grid arithmetic + one fused float
    interpolation per tick (trajectory.resample_track_sql)."""
    return trajectory.resample_track_sql(d, f"({event_fixes_sql(d, 'rs')}) fx", step_s=21600)


# ---------------------------------------------------------------------------
# OD flow matrix + deterministic corpus shuffle
# ---------------------------------------------------------------------------
def _od_matrix_sql(d: str) -> str:
    """Origin→destination trip flows at res 10 with k=2 anonymity
    suppression over the geo_traj tracks (trajectory.od_matrix_sql)."""
    return with_fixtures(trajectory.od_matrix_sql(d, res=10, k_anon=2), d)


def _flow_rose_sql(d: str) -> str:
    """Per-cell 8-sector direction rose over the geo_traj tracks: trig-free
    tan(22.5°)-comparison octants, integer-mm leg lengths
    (trajectory.flow_rose_sql)."""
    return with_fixtures(trajectory.flow_rose_sql(d, res=9), d)


def _gravity_ipf_sql(d: str) -> str:
    """Gravity-model OD fit: 2 IPF rounds over the origin×destination
    support, integer-nano state, impedance 1/(1+dist²)
    (trajectory.gravity_ipf_sql)."""
    return with_fixtures(trajectory.gravity_ipf_sql(d, res=10, rounds=2), d)


def q_zone_dwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone dwell analytics: stay-point centroids bound to zones (the
    cell-pruned PIP operator), dwell summed per zone in exact integer
    micros — 'how long do users actually spend inside each fare zone', the
    composition a transit analyst runs on top of stop/move segmentation.
    A stay inside overlapping zones counts toward each (PIP semantics)."""
    register_geometry_views(spark, sf_dir)
    stays = spark.sql(_stay_points_sql(SPARK)).selectExpr(
        "user_id * 100000 + stop_seq as point_id",
        "clat as lat", "clon as lon",
        "cast(round(duration_s * 1000000.0e0) as bigint) as dwell_us",
    )
    bound = pip.bind_points_to_polygons(
        stays.select("point_id", "lat", "lon"),
        spark.table("geo_polys"), res=12, scheme="quad",
    )
    return (
        bound.join(stays.select("point_id", "dwell_us"), "point_id")
        .groupBy("zone_id")
        .agg(
            F.count("*").cast("long").alias("n_stays"),
            F.sum("dwell_us").cast("long").alias("dwell_us"),
        )
    )


def q_zone_dwell_oracle() -> str:
    stays = _stay_points_sql(DUCK)
    pred = geo.point_in_polygon("s.lat", "s.lon", "z.pos_list", DUCK)
    return "\n        " + with_fixtures(f"""with
        stays as (
            select user_id * 100000 + stop_seq as point_id,
                   clat as lat, clon as lon,
                   cast(round(duration_s * 1000000.0e0) as bigint) as dwell_us
            from ({stays}) st
        )
        select z.zone_id as zone_id,
               cast(count(*) as bigint) as n_stays,
               cast(sum(s.dwell_us) as bigint) as dwell_us
        from stays s cross join geo_polys z
        where {pred}
        group by z.zone_id
    """, DUCK)


def _turn_points_sql(d: str) -> str:
    """Heading-change corners (>45°) per user track, trig-free integer test
    (operators.trajectory.turn_points_sql)."""
    return trajectory.turn_points_sql(d, f"({event_fixes_sql(d, 'tr')}) fx")


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
    q9 = "cast(floor({} * 1.0e9 + 0.5e0) as bigint)"
    dist = haversine_m("f.lat", "f.lon", "c.clat", "c.clon", d)
    d2q = f"cast(floor(round({dist}, 6) * round({dist}, 6) * 1.0e3 + 0.5e0) as bigint)"
    return with_fixtures(f"""with cent as (
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
        from folded""", d)


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
    k = f"{COSLAT0!r}e0"
    return with_fixtures(f"""with steps as (
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
        from folded""", d)


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
    register_geometry_views(spark, sf_dir)
    return trajsim.edr_join(
        spark.table("geo_traj"), eps_m=_EDR_EPS_M, max_edr=_EDR_MAX,
        n_steps=_MM_STEPS, res=12,
    )


def q_edr_join_oracle() -> str:
    body = trajsim.edr_join_oracle_sql(
        f"select * from ({traj_sql(DUCK)}) _t", eps_m=_EDR_EPS_M,
        max_edr=_EDR_MAX, n_steps=_MM_STEPS,
    )
    return with_fixtures(f"with __d as ({body}) select * from __d", DUCK)


# ---------------------------------------------------------------------------
# Discrete Fréchet trajectory-similarity join (Hausdorff/DTW/EDR triad done)
# ---------------------------------------------------------------------------
_FRECHET_R = 20000.0  # max leash length (m)


def q_frechet_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete Fréchet join over the geo_traj fixture: padded bbox-cover
    candidates (complete: F >= d(A1,B1)) + mm-integer anti-diagonal DP
    with the DTW staging's + swapped for max (trajsim.frechet_join)."""
    register_geometry_views(spark, sf_dir)
    return trajsim.frechet_join(
        spark.table("geo_traj"), max_dist_m=_FRECHET_R, n_steps=_MM_STEPS, res=12
    )


def q_frechet_join_oracle() -> str:
    body = trajsim.frechet_join_oracle_sql(
        f"select * from ({traj_sql(DUCK)}) _t",
        max_dist_m=_FRECHET_R,
        n_steps=_MM_STEPS,
    )
    return with_fixtures(f"with __f as ({body}) select * from __f", DUCK)


# ---------------------------------------------------------------------------
# Spatio-temporal DBSCAN over timestamped points
# ---------------------------------------------------------------------------
_STDB_EPS_M = 2000.0
_STDB_EPS_T = 3 * 86400  # 3-day time band (s)
_STDB_MIN_PTS = 3
_STDB_SPAN_S = 30 * 86400  # deterministic timestamps spread over 30 days


def st_points_sql(d: str) -> str:
    """geo_points + a deterministic integer-seconds timestamp per point
    (portable hash over a 30-day span) — the ST-DBSCAN fixture."""
    t = _pr(["'st:t:'", "point_id"], d)
    return (
        f"select point_id, lat, lon, "
        f"cast(floor({t} * {float(_STDB_SPAN_S)!r}e0) as bigint) as t_s "
        f"from geo_points"
    )


def q_st_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST-DBSCAN (eps 2 km, 3-day time band, min_pts 3): the dbscan
    machinery with the Birant-Kut spatio-temporal neighbor predicate --
    same-place different-week points no longer chain
    (operators/clustering.py st_dbscan)."""
    register_geometry_views(spark, sf_dir)
    return clustering.st_dbscan(
        spark.sql(st_points_sql(SPARK)),
        eps_m=_STDB_EPS_M,
        eps_t_s=_STDB_EPS_T,
        min_pts=_STDB_MIN_PTS,
        res=13,
    )


def q_st_dbscan_oracle() -> str:
    body = clustering.dbscan_oracle_sql(
        st_points_sql(DUCK),
        eps_m=_STDB_EPS_M,
        min_pts=_STDB_MIN_PTS,
        extra_pair_pred=f"and abs(p.t_s - q.t_s) <= {_STDB_EPS_T}",
    )
    return with_fixtures(body, DUCK)


# ---------------------------------------------------------------------------
# Map-matching quality diagnostics per trajectory
# ---------------------------------------------------------------------------
def q_match_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per trajectory over the gated map_match output: matched-step count,
    total/mean emission (how far the track sits from its matched segments)
    and the switch count (path smoothness) — the acceptance numbers a
    map-matching pipeline monitors.  One traj-keyed window + groupBy on
    the (tiny) match table; composes the already-gated operator."""
    mm = q_map_match(spark, sf_dir)
    w = Window.partitionBy("traj_id").orderBy("step")
    st = mm.select(
        "traj_id", "step", "emis_mm",
        F.when(
            (F.lag("zone_id").over(w).isNotNull())
            & (
                (F.lag("zone_id").over(w) != F.col("zone_id"))
                | (F.lag("seg_idx").over(w) != F.col("seg_idx"))
            ),
            1,
        )
        .otherwise(0)
        .alias("sw"),
    )
    return st.groupBy("traj_id").agg(
        F.count("*").cast("long").alias("n_steps"),
        F.sum("emis_mm").cast("long").alias("total_emis_mm"),
        F.sum("sw").cast("long").alias("n_switches"),
        F.round(
            F.sum("emis_mm").cast("double") / F.count("*").cast("double"), 6
        ).alias("mean_emis_mm"),
    )


def q_match_quality_oracle() -> str:
    return f"""
        with mm as ({q_map_match_oracle()})
        select traj_id,
               cast(count(*) as bigint) as n_steps,
               cast(sum(emis_mm) as bigint) as total_emis_mm,
               cast(sum(sw) as bigint) as n_switches,
               round(cast(sum(emis_mm) as double)
                     / cast(count(*) as double), 6) as mean_emis_mm
        from (
            select traj_id, emis_mm,
                   case when lag(zone_id) over w is not null
                             and (lag(zone_id) over w <> zone_id
                                  or lag(seg_idx) over w <> seg_idx)
                        then 1 else 0 end as sw
            from mm
            window w as (partition by traj_id order by step)
        ) t group by traj_id"""


QUERIES = {
    "trips": sql_query(_trips_sql),
    "stay_points": sql_query(_stay_points_sql),
    "encounters": sql_query(_encounters_sql),
    "speed_filter": sql_query(_speed_filter_sql),
    "geofence": (q_geofence, q_geofence_oracle),
    "map_match": (q_map_match, q_map_match_oracle),
    "hausdorff_join": (q_hausdorff, q_hausdorff_oracle),
    "dtw_join": (q_dtw_join, q_dtw_join_oracle),
    "geometric_median": sql_query(_geometric_median_sql),
    "resample": sql_query(_resample_sql),
    "od_matrix": sql_query(_od_matrix_sql),
    "flow_rose": sql_query(_flow_rose_sql),
    "gravity_ipf": sql_query(_gravity_ipf_sql),
    "zone_dwell": (q_zone_dwell, q_zone_dwell_oracle),
    "turn_points": sql_query(_turn_points_sql),
    "radius_gyration": sql_query(_radius_gyration_sql),
    "bearing_stats": sql_query(_bearing_stats_sql),
    "edr_join": (q_edr_join, q_edr_join_oracle),
    "frechet_join": (q_frechet_join, q_frechet_join_oracle),
    "st_dbscan": (q_st_dbscan, q_st_dbscan_oracle),
    "match_quality": (q_match_quality, q_match_quality_oracle),
}
