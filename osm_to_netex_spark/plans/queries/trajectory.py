"""Trajectory queries over the track fixtures: trip segmentation, stay
points, spike filtering, map matching, similarity joins (Hausdorff, DTW,
EDR, Fréchet), space-time clustering, OD flows and movement statistics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ...functions import geo
from ...functions.portable import DUCK, SPARK, concat_str, flit, haversine_m, prand
from ...operators import clustering, mapmatch, pip, trajectory, trajsim
from ...operators.trajectory import _ep
from .corpus import (
    COSLAT0, DLAT, DLON, LAT_LO, LON_LO, _pr, duck_geometry_ctes, points_sql,
    register_geometry_views,
)


def q_trips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory trip segmentation + movement stats (path via order-free
    sorted leg fold, endpoints via struct min/max)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return trajectory.trip_stats(spark, ev)


def q_trips_oracle() -> str:
    return trajectory.trip_stats_sql(DUCK, "events")


def q_stay_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stay-point detection (stop/move segmentation, Li et al. 2008 shape):
    distance-rule runs + duration/count gates, integer-fold centroids."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return trajectory.stay_points(spark, ev)


def q_stay_points_oracle() -> str:
    return trajectory.stay_points_sql(DUCK, "events")


def q_encounters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Space-time co-location join: user pairs within 100 m AND 30 min,
    pruned by (quad cell ring × time-bucket) equi join before exact
    haversine/Δt verify (trajectory.encounters)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return trajectory.encounters(spark, ev)


def q_encounters_oracle() -> str:
    return trajectory.encounters_sql(DUCK, "events")


def q_speed_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPS spike filter: a fix is an outlier iff every available adjacent
    leg implies speed > 40 m/s; teleport-injecting fixture
    (trajectory.speed_filter)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return trajectory.speed_filter(spark, ev)


def q_speed_filter_oracle() -> str:
    return trajectory.speed_filter_sql(DUCK, "events")


def gf_fixes_sql(d: str) -> str:
    """Deterministic geofence fixes: one uniform hash-placed point per event
    (zone coverage density is SF-constant by the polys fixture design, so
    fixes flip in/out of zones constantly).  Identical text both dialects."""
    plat = prand(concat_str(["'gf:lat:'", "event_id"], d), d)
    plon = prand(concat_str(["'gf:lon:'", "event_id"], d), d)
    ep = _ep(d)
    return (
        f"select user_id, event_id, {ep('ts')} as eps, "
        f"{flit(LAT_LO)} + {plat} * {flit(DLAT)} as lat, "
        f"{flit(LON_LO)} + {plon} * {flit(DLON)} as lon "
        f"from events"
    )


def q_geofence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geofence enter/exit/switch events: PIP zone binding (classified
    cell-cover join at a res where cells are zone-sized — res 8 measured
    219 s at sf0.1 from country-cell fan-out, res 14 measures 9 s, same
    rows) + per-user lag-window change detection (trajectory.
    geofence_events); the oracle binds zones with a brute cross-join
    ray-cast — an independent spatial plan."""
    register_geometry_views(spark, sf_dir)
    fixes = spark.sql(gf_fixes_sql(SPARK))
    return trajectory.geofence_events(fixes, spark.table("geo_polys"), res=14)


def q_geofence_oracle() -> str:
    return (
        f"{duck_geometry_ctes()}, gf_fixes as ({gf_fixes_sql(DUCK)}), "
        f"{trajectory.geofence_events_oracle_sql('gf_fixes', 'geo_polys')}"
    )


# ---------------------------------------------------------------------------
# HMM (Viterbi) map-matching
# ---------------------------------------------------------------------------
_MM_STEPS = 6
_MM_RADIUS = 600.0
_MM_PENALTY = 150_000  # 150 m switch penalty in mm


def traj_sql(d: str) -> str:
    """Deterministic GPS tracks: one 6-step trajectory per polygon, each
    fix = polygon vertex j jittered by a hash-derived offset (≈ ±250 m) —
    tracks genuinely follow a polyline, so stay/switch transitions are both
    exercised.  Identical expression text in both dialects."""
    eps = flit(0.0045)
    jla = _pr(["'mm:lat:'", "zone_id", "':'", "j"], d)
    jlo = _pr(["'mm:lon:'", "zone_id", "':'", "j"], d)
    if d == SPARK:
        # Spark [] subscripts are 0-based; element_at is the 1-based form
        la = f"element_at(pos_list, cast(2*j + 1 as int)) + ({jla} - 0.5e0) * {eps}"
        lo = f"element_at(pos_list, cast(2*j + 2 as int)) + ({jlo} - 0.5e0) * {eps}"
        return (
            f"select zone_id as traj_id, j as step, {la} as lat, {lo} as lon "
            f"from (select zone_id, pos_list, "
            f"explode(sequence(0, {_MM_STEPS - 1})) as j from geo_polys)"
        )
    la = f"pos_list[2*t.j + 1] + ({jla} - 0.5e0) * {eps}"
    lo = f"pos_list[2*t.j + 2] + ({jlo} - 0.5e0) * {eps}"
    return (
        f"select zone_id as traj_id, t.j as step, {la} as lat, {lo} as lon "
        f"from geo_polys, unnest(generate_series(0, {_MM_STEPS - 1})) t(j)"
    )


def q_map_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi map-matching: 6-fix tracks bound to the cost-optimal segment
    path (integer mm emissions + flat switch penalty, operators/mapmatch.py);
    greedy nearest-segment snap would zigzag, the DP stays put."""
    register_geometry_views(spark, sf_dir)
    spark.sql(f"create or replace temp view geo_traj as {traj_sql(SPARK)}")
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
    return f"{duck_geometry_ctes()}, geo_traj as ({traj_sql(DUCK)}), {body}"


# ---------------------------------------------------------------------------
# Trajectory similarity join (Hausdorff)
# ---------------------------------------------------------------------------
_HAUS_R = 8000.0


def q_hausdorff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All track pairs within 8 km symmetric Hausdorff distance over the
    geo_traj fixture: padded-bbox cover prefilter + exact HOF refine
    (operators/trajsim.py)."""
    register_geometry_views(spark, sf_dir)
    spark.sql(f"create or replace temp view geo_traj as {traj_sql(SPARK)}")
    return trajsim.hausdorff_join(spark.table("geo_traj"), radius_m=_HAUS_R, res=12)


def q_hausdorff_oracle() -> str:
    body = trajsim.hausdorff_join_oracle_sql(
        f"select * from ({traj_sql(DUCK)}) _t", radius_m=_HAUS_R
    )
    return f"{duck_geometry_ctes()}, __h as ({body}) select * from __h"


_DTW_C = 30000.0  # total alignment cost budget (m)


def q_dtw_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DTW trajectory-similarity join over the geo_traj fixture: padded
    bbox-cover candidates (complete: DTW >= d(A1,B1)) + mm-integer
    anti-diagonal-unrolled DP (trajsim.dtw_join)."""
    register_geometry_views(spark, sf_dir)
    spark.sql(f"create or replace temp view geo_traj as {traj_sql(SPARK)}")
    return trajsim.dtw_join(
        spark.table("geo_traj"), max_cost_m=_DTW_C, n_steps=_MM_STEPS, res=12
    )


def q_dtw_join_oracle() -> str:
    body = trajsim.dtw_join_oracle_sql(
        f"select * from ({traj_sql(DUCK)}) _t", max_cost_m=_DTW_C, n_steps=_MM_STEPS
    )
    return f"{duck_geometry_ctes()}, __d as ({body}) select * from __d"


def q_geometric_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Weiszfeld geometric median, 5 unrolled rounds over the fix
    arrays in one shuffle; trig-free metric keeps every float op identical
    across engines (trajectory.geometric_median)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return trajectory.geometric_median(spark, ev, k_iters=5)


def q_geometric_median_oracle() -> str:
    return trajectory.geometric_median_sql(DUCK, "events", k_iters=5)


def q_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-interval track resampling: per-user linear interpolation at
    6-hour grid ticks, pure-integer grid arithmetic + one fused float
    interpolation per tick (trajectory.resample_track)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return trajectory.resample_track(spark, ev, step_s=21600)


def q_resample_oracle() -> str:
    return trajectory.resample_track_sql(DUCK, "events", step_s=21600)


# ---------------------------------------------------------------------------
# OD flow matrix + deterministic corpus shuffle
# ---------------------------------------------------------------------------
def q_od_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Origin→destination trip flows at res 10 with k=2 anonymity
    suppression over the geo_traj tracks (trajectory.od_matrix_sql)."""
    register_geometry_views(spark, sf_dir)
    spark.sql(f"create or replace temp view geo_traj as {traj_sql(SPARK)}")
    return spark.sql(trajectory.od_matrix_sql(SPARK, res=10, k_anon=2))


def q_od_matrix_oracle() -> str:
    body = trajectory.od_matrix_sql(DUCK, res=10, k_anon=2, traj_table="geo_traj")
    return (
        f"{duck_geometry_ctes()}, geo_traj as ({traj_sql(DUCK)}), "
        f"__od as ({body}) select * from __od"
    )


def q_flow_rose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell 8-sector direction rose over the geo_traj tracks: trig-free
    tan(22.5°)-comparison octants, integer-mm leg lengths
    (trajectory.flow_rose)."""
    register_geometry_views(spark, sf_dir)
    spark.sql(f"create or replace temp view geo_traj as {traj_sql(SPARK)}")
    return trajectory.flow_rose(spark, res=9)


def q_flow_rose_oracle() -> str:
    body = trajectory.flow_rose_sql(DUCK, res=9, traj_table="geo_traj")
    return (
        f"{duck_geometry_ctes()}, geo_traj as ({traj_sql(DUCK)}), "
        f"__fr as ({body}) select * from __fr"
    )


def q_gravity_ipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gravity-model OD fit: 2 IPF rounds over the origin×destination
    support, integer-nano state, impedance 1/(1+dist²)
    (trajectory.gravity_ipf)."""
    register_geometry_views(spark, sf_dir)
    spark.sql(f"create or replace temp view geo_traj as {traj_sql(SPARK)}")
    return trajectory.gravity_ipf(spark, res=10, rounds=2)


def q_gravity_ipf_oracle() -> str:
    body = trajectory.gravity_ipf_sql(DUCK, res=10, rounds=2, traj_table="geo_traj")
    return (
        f"{duck_geometry_ctes()}, geo_traj as ({traj_sql(DUCK)}), "
        f"__g as ({body}) select * from __g"
    )


def q_zone_dwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone dwell analytics: stay-point centroids bound to zones (the
    cell-pruned PIP operator), dwell summed per zone in exact integer
    micros — 'how long do users actually spend inside each fare zone', the
    composition a transit analyst runs on top of stop/move segmentation.
    A stay inside overlapping zones counts toward each (PIP semantics)."""
    register_geometry_views(spark, sf_dir)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    stays = trajectory.stay_points(spark, ev).selectExpr(
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
    stays = trajectory.stay_points_sql(DUCK, "events")
    pred = geo.point_in_polygon("s.lat", "s.lon", "z.pos_list", DUCK)
    return f"""
        {duck_geometry_ctes()},
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
    """


def q_turn_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heading-change corners (>45°) per user track, trig-free integer test
    (operators.trajectory.turn_points_sql)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return trajectory.turn_points(spark, ev)


def q_turn_points_oracle() -> str:
    return trajectory.turn_points_sql(DUCK, "events")


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
    register_geometry_views(spark, sf_dir)
    spark.sql(f"create or replace temp view geo_traj as {traj_sql(SPARK)}")
    return spark.sql(f"with {_radius_gyration_sql(SPARK)}")


def q_radius_gyration_oracle() -> str:
    return (
        f"{duck_geometry_ctes()}, geo_traj as ({traj_sql(DUCK)}), "
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
    k = f"{COSLAT0!r}e0"
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
    register_geometry_views(spark, sf_dir)
    spark.sql(f"create or replace temp view geo_traj as {traj_sql(SPARK)}")
    return spark.sql(f"with {_bearing_stats_sql(SPARK)}")


def q_bearing_stats_oracle() -> str:
    return (
        f"{duck_geometry_ctes()}, geo_traj as ({traj_sql(DUCK)}), "
        f"{_bearing_stats_sql(DUCK)}"
    )


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
    spark.sql(f"create or replace temp view geo_traj as {traj_sql(SPARK)}")
    return trajsim.edr_join(
        spark.table("geo_traj"), eps_m=_EDR_EPS_M, max_edr=_EDR_MAX,
        n_steps=_MM_STEPS, res=12,
    )


def q_edr_join_oracle() -> str:
    body = trajsim.edr_join_oracle_sql(
        f"select * from ({traj_sql(DUCK)}) _t", eps_m=_EDR_EPS_M,
        max_edr=_EDR_MAX, n_steps=_MM_STEPS,
    )
    return f"{duck_geometry_ctes()}, __d as ({body}) select * from __d"


# ---------------------------------------------------------------------------
# Discrete Fréchet trajectory-similarity join (Hausdorff/DTW/EDR triad done)
# ---------------------------------------------------------------------------
_FRECHET_R = 20000.0  # max leash length (m)


def q_frechet_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete Fréchet join over the geo_traj fixture: padded bbox-cover
    candidates (complete: F >= d(A1,B1)) + mm-integer anti-diagonal DP
    with the DTW staging's + swapped for max (trajsim.frechet_join)."""
    register_geometry_views(spark, sf_dir)
    spark.sql(f"create or replace temp view geo_traj as {traj_sql(SPARK)}")
    return trajsim.frechet_join(
        spark.table("geo_traj"), max_dist_m=_FRECHET_R, n_steps=_MM_STEPS, res=12
    )


def q_frechet_join_oracle() -> str:
    body = trajsim.frechet_join_oracle_sql(
        f"select * from ({traj_sql(DUCK)}) _t",
        max_dist_m=_FRECHET_R,
        n_steps=_MM_STEPS,
    )
    return f"{duck_geometry_ctes()}, __f as ({body}) select * from __f"


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
    spark.sql(f"create or replace temp view st_points as {st_points_sql(SPARK)}")
    return clustering.st_dbscan(
        spark.table("st_points"),
        eps_m=_STDB_EPS_M,
        eps_t_s=_STDB_EPS_T,
        min_pts=_STDB_MIN_PTS,
        res=13,
    )


def q_st_dbscan_oracle() -> str:
    pts = f"select * from ({points_sql(DUCK)}) __gp"
    st = st_points_sql(DUCK).replace("from geo_points", f"from ({pts}) geo_points")
    return clustering.dbscan_oracle_sql(
        st,
        eps_m=_STDB_EPS_M,
        min_pts=_STDB_MIN_PTS,
        extra_pair_pred=f"and abs(p.t_s - q.t_s) <= {_STDB_EPS_T}",
    )


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
    "trips": (q_trips, q_trips_oracle),
    "stay_points": (q_stay_points, q_stay_points_oracle),
    "encounters": (q_encounters, q_encounters_oracle),
    "speed_filter": (q_speed_filter, q_speed_filter_oracle),
    "geofence": (q_geofence, q_geofence_oracle),
    "map_match": (q_map_match, q_map_match_oracle),
    "hausdorff_join": (q_hausdorff, q_hausdorff_oracle),
    "dtw_join": (q_dtw_join, q_dtw_join_oracle),
    "geometric_median": (q_geometric_median, q_geometric_median_oracle),
    "resample": (q_resample, q_resample_oracle),
    "od_matrix": (q_od_matrix, q_od_matrix_oracle),
    "flow_rose": (q_flow_rose, q_flow_rose_oracle),
    "gravity_ipf": (q_gravity_ipf, q_gravity_ipf_oracle),
    "zone_dwell": (q_zone_dwell, q_zone_dwell_oracle),
    "turn_points": (q_turn_points, q_turn_points_oracle),
    "radius_gyration": (q_radius_gyration, q_radius_gyration_oracle),
    "bearing_stats": (q_bearing_stats, q_bearing_stats_oracle),
    "edr_join": (q_edr_join, q_edr_join_oracle),
    "frechet_join": (q_frechet_join, q_frechet_join_oracle),
    "st_dbscan": (q_st_dbscan, q_st_dbscan_oracle),
    "match_quality": (q_match_quality, q_match_quality_oracle),
}
