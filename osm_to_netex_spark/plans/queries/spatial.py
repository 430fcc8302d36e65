"""Spatial core queries: cell tiling and covers, point-in-polygon and kNN
binding, distance and overlap joins, polygon measures, validity and
repair, layout keys, and point-pattern statistics over the derived
corpus geometry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ...functions import geo
from ...functions.portable import (
    DUCK, SPARK, flit, haversine_m, round_half, seq, transform as transform_,
)
from ...operators import (
    assemble, clustering, distjoin, graph, hull, overlap, pip, raster as R,
    simplify, tiling, validity, vectortile, zones,
)
from ...operators.distjoin import _segments, seg_dist_m
from ...operators.tiling import cover_cells
from ...sources import layout
from .corpus import (
    COSLAT0, DLAT, DLON, LAT_LO, LON_LO, _M_PER_DEG, _pr, event_fixes_sql,
    points_sql, register_geometry_views, sql_query, staged_query, with_fixtures,
)


def dist2(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    return (
        f"(({lat2} - {lat1}) * ({lat2} - {lat1}) + "
        f"({flit(COSLAT0)} * ({lon2} - {lon1})) * ({flit(COSLAT0)} * ({lon2} - {lon1})))"
    )


def q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point cell-assign at res 7/8/9, hex + quad (north-rule headline).

    Hex cells go through the staged-intermediate builder (same values as the
    inline oracle formula, ~40% less compute — geo.hex_cells_staged)."""
    register_geometry_views(spark, sf_dir)
    pts = spark.table("geo_points")
    staged, hex_cols = geo.hex_cells_staged(pts, "lat", "lon", (7, 8, 9))
    cols = ["point_id"]
    for r, h in zip((7, 8, 9), hex_cols):
        cols.append(f"{h} as hex_r{r}")
        cols.append(f"{geo.quad_cell('lat', 'lon', r, SPARK)} as quad_r{r}")
    return staged.selectExpr(*cols)


def q_tile_assign_oracle() -> str:
    exprs = []
    for r in (7, 8, 9):
        exprs.append(f"{geo.hex_cell('lat', 'lon', r, DUCK)} as hex_r{r}")
        exprs.append(f"{geo.quad_cell('lat', 'lon', r, DUCK)} as quad_r{r}")
    return with_fixtures(f"select point_id, {', '.join(exprs)} from geo_points", DUCK)


def q_polyfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon covering as exploded (zone_id, scheme, res, cell) rows.

    Built through tiling.cover_cells (staged bounds + explode(sequence)) —
    row-identical to the single cover-expression form but ~3.4x faster at
    sf0.1 (3.9 s vs 1.15 s) because the mega-expression's Catalyst/Janino
    fixed cost is gone (BASELINE.md caveat)."""
    register_geometry_views(spark, sf_dir)
    polys = spark.table("geo_polys")
    out = None
    for scheme in ("hex", "quad"):
        for r in (7, 8):
            part = cover_cells(polys, "zone_id", r, scheme).selectExpr(
                "zone_id", f"'{scheme}' as scheme", f"{r} as res", "cell"
            )
            out = part if out is None else out.unionByName(part)
    return out


def q_polyfill_oracle() -> str:
    parts = []
    for scheme, fn in (("hex", geo.hex_cover_bbox), ("quad", geo.quad_cover_bbox)):
        for r in (7, 8):
            parts.append(
                f"select zone_id, '{scheme}' as scheme, {r} as res, "
                f"unnest({fn('pos_list', r, DUCK)}) as cell from geo_polys"
            )
    return with_fixtures(" union all ".join(parts), DUCK)


def _kring_sql(d: str) -> str:
    """Hex k-ring expansion (k=2) as exploded rows."""
    cell = geo.hex_cell("lat", "lon", 8, d)
    explode = "explode" if d == SPARK else "unnest"
    return with_fixtures(
        f"select point_id, {explode}({geo.hex_kring(cell, 8, 2, d)}) as ring_cell from geo_points",
        d,
    )


def q_pip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIP binding — engine: quad-cell-pruned join + ray cast; oracle: brute."""
    register_geometry_views(spark, sf_dir)
    pts = spark.table("geo_points")
    polys = spark.table("geo_polys")
    return pip.bind_points_to_polygons(pts, polys, res=12, scheme="quad")


def q_pip_oracle() -> str:
    pred = geo.point_in_polygon("p.lat", "p.lon", "z.pos_list", DUCK)
    return with_fixtures(
        f"select distinct p.point_id as point_id, z.zone_id as zone_id "
        f"from geo_points p cross join geo_polys z where {pred}",
        DUCK,
    )


def q_pip_celljoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same PIP binding through the NON-broadcast strategy
    (broadcast_polygons=False): shuffled cell equi-join against the
    classified polygon index — the plan used when the polygon set outgrows
    the broadcast threshold at the 100 TB design point.  Oracle identical
    to `pip`; agreement proves strategy-independence of the result."""
    register_geometry_views(spark, sf_dir)
    pts = spark.table("geo_points")
    polys = spark.table("geo_polys")
    return pip.bind_points_to_polygons(
        pts, polys, res=12, scheme="quad", broadcast_polygons=False
    )


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN (k=3): every 10th point (quay) → 3 nearest other points (stops),
    equirect-squared metric.

    Engine plan: quad-cell ring-1 candidate join at res 13 + window top-k;
    quays whose 3rd hit falls outside the ring's guarantee radius (or with
    < 3 hits) are re-ranked brute-force — a data-driven anti-join fallback,
    no driver loop.  Exact vs the brute-force oracle by construction.
    """
    register_geometry_views(spark, sf_dir)
    res, k = 13, 3
    cellh = 180.0 / 2**res
    cellw = 360.0 / 2**res
    g2 = min(cellh, cellw * COSLAT0) ** 2  # dist2 ball certainly covered by ring 1

    q = spark.sql(
        f"select point_id as quay_id, lat as qlat, lon as qlon, "
        f"{geo.quad_cell('lat', 'lon', res, SPARK)} as qcell "
        f"from geo_points where point_id % 10 = 0"
    )
    s = spark.sql(
        f"select point_id as stop_id, lat as slat, lon as slon, "
        f"{geo.quad_cell('lat', 'lon', res, SPARK)} as scell "
        f"from geo_points where point_id % 10 <> 0"
    )
    # the stop side is 90% of the corpus — NOT a dimension table, so no
    # broadcast anywhere on it: the candidate join is a shuffled cell
    # equi-join (AQE splits skewed cells), the resolution check is a window
    # over the ranking partition (one shuffle, reused sort), and the
    # remainder anti-join + fallback stay shuffle-based too
    ring = q.withColumn("cand_cell", F.explode(F.expr(geo.quad_kring("qcell", res, 1, SPARK))))
    cand = ring.join(s, ring.cand_cell == s.scell).withColumn(
        "d2", F.expr(dist2("qlat", "qlon", "slat", "slon"))
    )
    w = Window.partitionBy("quay_id").orderBy(F.col("d2").asc(), F.col("stop_id").asc())
    ranked = (
        cand.select("quay_id", "stop_id", "d2")
        .withColumn("rn", F.row_number().over(w))
        .where(f"rn <= {k}")
    )
    wq = Window.partitionBy("quay_id")
    flagged = ranked.withColumn(
        "__resolved",
        (F.count("*").over(wq) == k) & (F.max("d2").over(wq) <= F.lit(g2)),
    )
    done = flagged.where("__resolved").select("quay_id", "stop_id", "d2", "rn")
    resolved = flagged.where("__resolved").select("quay_id")
    rest = q.join(resolved, "quay_id", "left_anti")
    fb_cand = rest.crossJoin(s.drop("scell")).withColumn(
        "d2", F.expr(dist2("qlat", "qlon", "slat", "slon"))
    )
    fb = (
        fb_cand.select("quay_id", "stop_id", "d2")
        .withColumn("rn", F.row_number().over(w))
        .where(f"rn <= {k}")
    )
    return (
        done.unionByName(fb)
        .selectExpr("quay_id", "stop_id", "rn", "round(d2, 12) as d2r")
    )


def q_knn_oracle() -> str:
    d2 = dist2("q.lat", "q.lon", "s.lat", "s.lon")
    return with_fixtures(f"""with
        cand as (
            select q.point_id as quay_id, s.point_id as stop_id, {d2} as d2,
                   row_number() over (partition by q.point_id order by {d2} asc, s.point_id asc) as rn
            from geo_points q cross join geo_points s
            where q.point_id % 10 = 0 and s.point_id % 10 <> 0
        )
        select quay_id, stop_id, rn, round(d2, 12) as d2r from cand where rn <= 3""", DUCK)


def q_polyfill_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tight quad covering (bbox cover filtered to center-inside OR
    edge-overlap cells — functions.geo.quad_cover_refined): the 2-5x
    fan-out reduction used by the PIP index, verified cell-for-cell."""
    register_geometry_views(spark, sf_dir)
    # exploded bbox cover + per-row classify>0 filter: same predicate as
    # quad_cover_refined's (center_in OR edge_overlap), small expressions
    cov = cover_cells(
        spark.table("geo_polys"), "zone_id", 9, "quad", keep=("pos_list",)
    )
    return cov.where(
        F.expr(f"({geo.quad_cell_classify('cell', 'pos_list', 9, SPARK)}) > 0")
    ).select("zone_id", "cell")


def q_polyfill_refined_oracle() -> str:
    return with_fixtures(
        f"select zone_id, unnest({geo.quad_cover_refined('pos_list', 9, DUCK)}) as cell "
        f"from geo_polys",
        DUCK,
    )


def _cell_rollup_sql(d: str) -> str:
    """Hierarchical rollup: per-cell point counts at res 9 aggregated to the
    parent cells at res 8 and 7 via the strict cell hierarchy (quad_parent) —
    the hypertable-rollup pattern: coarse tiles are aggregations of fine
    tiles, never a re-scan of the points."""
    c9 = geo.quad_cell("lat", "lon", 12, d)
    p8 = geo.quad_parent("c9", 12, d)
    p7 = geo.quad_parent("p8", 11, d)
    ctes = f"""c as (select {c9} as c9 from geo_points),
        f9 as (select 12 as res, c9 as cell, count(*) as n_points from c group by c9),
        f8 as (select 11 as res, p8 as cell, count(*) as n_points
               from (select {p8} as p8 from c) t group by p8),
        f7 as (select 10 as res, p7 as cell, count(*) as n_points
               from (select {p7} as p7 from (select {p8} as p8 from c) t) t2 group by p7)"""
    sel = "select * from f9 union all select * from f8 union all select * from f7"
    return with_fixtures(f"with {ctes} {sel}", d)


# --- reference-parity operators over derived relational fixtures -----------
def q_assemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 ordered reassembly verified against a SQL ordered-aggregation oracle:
    nodes = polygon vertices keyed (zone_id*1000+j); ways reference them."""
    register_geometry_views(spark, sf_dir)
    nodes = spark.sql(
        "select zone_id * 1000 + (pos - 1) as node_id, "
        "pos_list[cast(2 * pos - 2 as int)] as lat, pos_list[cast(2 * pos - 1 as int)] as lon "
        "from (select zone_id, pos_list, explode(sequence(1, size(pos_list) div 2)) as pos from geo_polys)"
    )
    ways = spark.sql(
        "select zone_id as way_id, transform(sequence(1, size(pos_list) div 2), "
        "p -> zone_id * 1000 + (p - 1)) as nd_refs, "
        "cast(null as map<string,string>) as tags from geo_polys"
    )
    out = assemble.assemble_poslist(ways, nodes, broadcast_nodes=True, strict=False)
    # exploded to scalar rows: the driver canonicalizer cannot hash array
    # cells, and per-coordinate rows make the order check explicit
    return out.selectExpr("way_id", "posexplode(pos_list) as (pos_idx, coord)")


def q_assemble_oracle() -> str:
    return with_fixtures(f"""with
        verts as (
            select zone_id, pos,
                   pos_list[2 * pos - 1] as lat, pos_list[2 * pos] as lon
            from geo_polys, unnest(generate_series(1, len(pos_list) // 2)) t(pos)
        ),
        asm as (
            select zone_id as way_id,
                   flatten(list([lat, lon] order by pos asc)) as pos_list
            from verts group by zone_id
        )
        select way_id, t.i - 1 as pos_idx, a.pos_list[t.i] as coord
        from asm a, unnest(generate_series(1, len(a.pos_list))) t(i)""", DUCK)


def q_zone_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2/M4/M5 — the engine's real tag→zone mapper (zones.map_zones) over
    derived tags, vs a semantic SQL oracle.  Exercises: id generation
    (OsmToNetexMapper.java:337-339), the name:lang extraction incl. the
    plain-``name`` quirk (:341-343), zone_type → KeyList, and every
    ValidBetween branch (:320-326)."""
    register_geometry_views(spark, sf_dir)
    assembled = spark.sql(
        """
        select zone_id as way_id, pos_list,
               map_filter(map(
                 'codespace', 'BRA',
                 'reference', cast(zone_id as string),
                 case when zone_id % 3 = 0 then 'name:nor'
                      when zone_id % 3 = 1 then 'name:eng'
                      else 'name' end, concat('Zone-', zone_id),
                 'zone_type', case when zone_id % 2 = 0 then 'tariffZone' end,
                 'valid_from', case when zone_id % 4 = 0 then '2021-02-01'
                                    when zone_id % 4 = 1 then '2021-02-01'
                                    when zone_id % 4 = 2 then '2030-01-01' end,
                 'valid_to',   case when zone_id % 4 = 0 then '2031-02-01'
                                    when zone_id % 4 = 2 then '2020-01-01' end
               ), (k, v) -> v is not null) as tags
        from geo_polys
        """
    )
    z = zones.map_zones(assembled, "TariffZone", strict=True)
    return z.selectExpr(
        "zone_id",
        "name",
        "name_lang",
        "polygon_id",
        "element_at(key_list, 'zone_type') as zone_type",
        "cast(valid_from as string) as valid_from",
        "cast(valid_to as string) as valid_to",
    )


def q_zone_mapping_oracle() -> str:
    return with_fixtures(f"""
        select concat('BRA', ':', 'TariffZone', ':', cast(zone_id as varchar)) as zone_id,
               concat('Zone-', cast(zone_id as varchar)) as name,
               case when zone_id % 3 = 0 then 'nor'
                    when zone_id % 3 = 1 then 'eng'
                    else 'name' end as name_lang,
               concat('GEN-PolygonType', cast(zone_id as varchar)) as polygon_id,
               case when zone_id % 2 = 0 then 'tariffZone' end as zone_type,
               -- ValidBetween: both iff to>from; from-only iff to missing; else none
               case when zone_id % 4 = 0 then '2021-02-01'
                    when zone_id % 4 = 1 then '2021-02-01' end as valid_from,
               case when zone_id % 4 = 0 then '2031-02-01' end as valid_to
        from geo_polys""", DUCK)


def q_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius self-join: all point pairs within 2 km, via the
    data-driven ring join (operators.distjoin) — cell-pruned candidates +
    exact haversine; the oracle is the brute-force cross join.  res 13 puts
    the cell edge (~2.4 km at 60°N) at the radius, so the ring is 3×3-ish."""
    register_geometry_views(spark, sf_dir)
    pts = spark.table("geo_points")
    pairs = distjoin.radius_join(pts, pts, radius_m=2000.0, res=13)
    return pairs.where(F.col("point_id_a") < F.col("point_id_b"))


def q_radius_join_oracle() -> str:
    dist = haversine_m("a.lat", "a.lon", "b.lat", "b.lon", DUCK)
    return with_fixtures(f"""
        select a.point_id as point_id_a, b.point_id as point_id_b,
               round({dist}, 6) as dist_m
        from geo_points a cross join geo_points b
        where a.point_id < b.point_id and {dist} <= 2000.0e0""", DUCK)


def _zorder_key_sql(d: str) -> str:
    """Z-order (Morton) clustering key at quad res 14 — the write-layout key
    (sources.layout.write_zordered) as a value-gated formula: parallel-prefix
    bit spread + interleave, portable SQL in both engines."""
    return with_fixtures(
        f"select point_id, {layout.zorder_expr('lat', 'lon', 14, d)} as z from geo_points", d
    )


def _zone_stats_sql(d: str) -> str:
    """Vector zonal statistics: shoelace area, centroid, perimeter, vertex
    count per polygon — pure projection (scan-parallel at any scale), one
    formula source for both dialects."""
    size = "size" if d == SPARK else "len"
    return with_fixtures(
        "select zone_id, "
        f"cast({size}(pos_list) / 2 - 1 as bigint) as n_vertices, "
        f"round({geo.poly_area('pos_list', d)}, 9) as area_deg2, "
        f"round({geo.poly_centroid_lat('pos_list', d)}, 9) as centroid_lat, "
        f"round({geo.poly_centroid_lon('pos_list', d)}, 9) as centroid_lon, "
        f"round({geo.poly_perimeter_deg('pos_list', d)}, 9) as perimeter_deg "
        "from geo_polys",
        d,
    )


def q_poly_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon-polygon overlap join: cell-cover prefilter + distinct pairs +
    exact vertex/edge-crossing refine (operators/overlap.py).  Oracle is the
    brute O(n²) cross join with the identical exact predicate."""
    register_geometry_views(spark, sf_dir)
    # materialize the synthesized rings first (poly-table-sized, tiny):
    # inlined, the ring-generator expression composes into the cover AND
    # both ring join-back branches' codegen — 25 s of compile vs 3 s with
    # the barrier at sf0.1 (same class as q_dissolve's shrunk-ring note)
    polys = spark.table("geo_polys").localCheckpoint(eager=True)
    return overlap.polygon_overlap_join(polys, res=12)


def q_poly_overlap_oracle() -> str:
    pred = geo.polygons_overlap("a.pos_list", "b.pos_list", DUCK)
    return with_fixtures(
        f"select a.zone_id as id_a, b.zone_id as id_b "
        f"from geo_polys a cross join geo_polys b "
        f"where a.zone_id < b.zone_id and {pred}",
        DUCK,
    )


def q_cover_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2-style cover compaction: the refined res-9 quad cover of each zone
    compacted to mixed res 7-9 (complete 4-sibling sets -> parent,
    operators.tiling.compact_cover).  Canonical minimal index form."""
    register_geometry_views(spark, sf_dir)
    cov = tiling.cover_cells(
        spark.table("geo_polys"), "zone_id", 9, "quad", keep=("pos_list",)
    ).where(
        F.expr(f"({geo.quad_cell_classify('cell', 'pos_list', 9, SPARK)}) > 0")
    ).select("zone_id", "cell")
    return tiling.compact_cover(cov, "zone_id", res_hi=9, res_lo=7)


def q_cover_compact_oracle() -> str:
    pow_res = 2**geo.QUAD_RES_BITS
    p9 = geo.quad_parent("cell", 9, DUCK)
    p8 = geo.quad_parent("cell", 8, DUCK)
    return with_fixtures(f"""with
        cov as (
            select zone_id, unnest({geo.quad_cover_refined('pos_list', 9, DUCK)}) as cell
            from geo_polys
        ),
        l9 as (
            select zone_id, cell,
                   count(*) over (partition by zone_id, {p9}) as n,
                   min(cell) over (partition by zone_id, {p9}) as mn
            from cov
        ),
        s9 as (
            select zone_id, case when n = 4 then {p9} else cell end as cell
            from l9 where n < 4 or cell = mn
        ),
        l8 as (
            select zone_id, cell,
                   count(*) over (partition by zone_id, {p8}) as n,
                   min(cell) over (partition by zone_id, {p8}) as mn
            from s9 where cell // {pow_res} = 8
        ),
        s8 as (
            select zone_id, case when n = 4 then {p8} else cell end as cell
            from l8 where n < 4 or cell = mn
        )
        select zone_id, cell from s9 where cell // {pow_res} != 8
        union all
        select zone_id, cell from s8""", DUCK)


def q_snap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-segment snap (map-matching-lite): each point bound to the
    closest polyline segment within 2 km — padded-bbox cell prefilter + exact
    planar refine + per-point window argmin (operators.distjoin.snap_join)."""
    register_geometry_views(spark, sf_dir)
    return distjoin.snap_join(
        spark.table("geo_points"),
        spark.table("geo_polys"),
        radius_m=2000.0,
        res=14,
    )


def q_snap_join_oracle() -> str:
    dist = distjoin.seg_dist_m("p.lat", "p.lon", "s.say", "s.sax", "s.sby", "s.sbx", DUCK)
    return with_fixtures(f"""with
        segs as (
            select zone_id, t.i as seg_idx,
                   pos_list[2*t.i - 1] as say, pos_list[2*t.i] as sax,
                   pos_list[2*t.i + 1] as sby, pos_list[2*t.i + 2] as sbx
            from geo_polys, unnest(generate_series(1, len(pos_list) // 2 - 1)) t(i)
        ),
        cand as (
            select p.point_id, s.zone_id, s.seg_idx, {dist} as d
            from geo_points p cross join segs s
        )
        select point_id, zone_id, seg_idx, round(d, 6) as dist_m
        from (select *, row_number() over (partition by point_id order by d, zone_id, seg_idx) as rn
              from cand where d <= 2000.0e0)
        where rn = 1""", DUCK)


def _geohash_sql(d: str) -> str:
    """Standard geohash (base32) of every point at precision 8 — interchange
    cell encoding with free hierarchical prefix containment."""
    return with_fixtures(
        f"select point_id, {layout.geohash_expr('lat', 'lon', 8, d)} as gh from geo_points", d
    )


def q_adaptive_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive quadtree partition: coarsest res in 9-11 whose cell holds
    <= 100 points (the skew-bounding partitioner, closed-form — no driver
    iteration)."""
    register_geometry_views(spark, sf_dir)
    return tiling.adaptive_partition(
        spark.table("geo_points"), cap=100, res_lo=9, res_hi=11
    )


def q_adaptive_cells_oracle() -> str:
    cells = {r: geo.quad_cell("lat", "lon", r, DUCK) for r in (9, 10, 11)}
    return with_fixtures(f"""with
        pts as (select point_id, {cells[9]} as c9, {cells[10]} as c10, {cells[11]} as c11
                from geo_points),
        n9 as (select c9, count(*) as k9 from pts group by c9),
        n10 as (select c10, count(*) as k10 from pts group by c10)
        select point_id,
               case when k9 <= 100 then c9 when k10 <= 100 then c10 else c11 end as cell,
               case when k9 <= 100 then 9 when k10 <= 100 then 10 else 11 end as res
        from pts join n9 using (c9) join n10 using (c10)""", DUCK)


def stations_sql(d: str, table: str = "supplier") -> str:
    """Deterministic weather-station-style points with a measured value —
    same center derivation as polys_sql, plus a hash value in [0, 2000)."""
    pr_lat = _pr(["'z:lat:'", "s_suppkey"], d)
    clat = f"({flit(LAT_LO + 0.05)} + {pr_lat} * {flit(DLAT - 0.1)})"
    pr_lon = _pr(["'z:lon:'", "s_suppkey"], d)
    clon = f"({flit(LON_LO + 0.05)} + {pr_lon} * {flit(DLON - 0.1)})"
    pr_v = _pr(["'st:v:'", "s_suppkey"], d)
    v = f"({pr_v} * 2000.0e0)"
    return (
        f"select s_suppkey as station_id, {clat} as lat, {clon} as lon, "
        f"{v} as value from {table}"
    )


def q_idw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDW-2 interpolation of station values onto points within 20 km —
    ring-join candidates + order-free sorted weight fold."""
    register_geometry_views(spark, sf_dir)
    stations = spark.sql(stations_sql(SPARK))
    return R.idw_interpolate(
        spark.table("geo_points"), stations, radius_m=20000.0, res=11
    )


def q_idw_oracle() -> str:
    hav = haversine_m("p.lat", "p.lon", "s.lat", "s.lon", DUCK)
    w = "1.0e0 / (greatest(dist_m, 1.0e0) * greatest(dist_m, 1.0e0))"
    return with_fixtures(f"""with
        stations as ({stations_sql(DUCK)}),
        pairs as (
            select p.point_id as pid, s.station_id as sid,
                   round({hav}, 6) as dist_m, s.value as v
            from geo_points p cross join stations s
            where {hav} <= 20000.0e0
        ),
        contrib as (
            select pid, sid, {w} as w, ({w}) * v as wv from pairs
        ),
        per as (
            select pid,
                   list_reduce(list_prepend(0.0e0, list_transform(
                       list_sort(list(struct_pack(sid := sid, w := w, wv := wv))),
                       x -> x.w)), (s, v) -> s + v) as sw,
                   list_reduce(list_prepend(0.0e0, list_transform(
                       list_sort(list(struct_pack(sid := sid, w := w, wv := wv))),
                       x -> x.wv)), (s, v) -> s + v) as swv,
                   count(*) as n_stations
            from contrib group by pid
        )
        select pid as point_id, round(swv / sw, 6) as idw_value, n_stations
        from per""", DUCK)


def q_simplify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-4 Douglas-Peucker simplification of every zone ring at 0.005 deg
    tolerance — kept-vertex set, deterministic argmax splits."""
    register_geometry_views(spark, sf_dir)
    return simplify.simplify_dp(
        spark.table("geo_polys"), eps_deg=0.005, k_rounds=4
    )


def q_simplify_oracle() -> str:
    return with_fixtures(
        simplify.simplify_dp_oracle_sql("geo_polys", eps_deg=0.005, k_rounds=4), DUCK
    )


def q_line_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polyline crossing join: ring segments of odd zones × even zones,
    properly-crossing pairs with the intersection point (cell-cover
    prefilter, dedup before refine — operators.distjoin)."""
    register_geometry_views(spark, sf_dir)
    polys = spark.table("geo_polys")
    return distjoin.line_intersection_join(
        polys.where("zone_id % 2 = 1"), polys.where("zone_id % 2 = 0"), res=12
    )


def q_line_intersect_oracle() -> str:
    body = distjoin.line_intersection_oracle_sql(
        "(select * from geo_polys where zone_id % 2 = 1)",
        "(select * from geo_polys where zone_id % 2 = 0)",
    )
    return with_fixtures(f" {body}", DUCK)


def q_smooth_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kernel-smoothed cell density heatmap (quad res 12, Chebyshev k=2):
    integer-scaled weights fold exactly, one double division at the end."""
    register_geometry_views(spark, sf_dir)
    return tiling.smooth_density(spark.table("geo_points"), res=12, k=2)


def q_smooth_density_oracle() -> str:
    return tiling.smooth_density_oracle_sql(points_sql(DUCK), res=12, k=2)


def q_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN spatial clustering (eps 2 km, min_pts 3): radius_join pairs →
    core counts → connected components over core-core edges → deterministic
    min-label borders; noise = -1 (operators.clustering.dbscan)."""
    register_geometry_views(spark, sf_dir)
    return clustering.dbscan(spark.table("geo_points"), eps_m=2000.0, min_pts=3, res=13)


def q_dbscan_oracle() -> str:
    body = clustering.dbscan_oracle_sql(points_sql(DUCK), eps_m=2000.0, min_pts=3)
    return body


def _bfs_sources_sql(d: str, res: int) -> str:
    ix, iy = geo.quad_ixy("lat", "lon", res, d)
    return (
        f"select {ix} as cell_x, {iy} as cell_y from geo_points "
        f"where point_id % 20 = 0"
    )


def _bfs_blocked_sql(d: str, res: int) -> str:
    """Obstacle cells: REFINED covers (center-inside or edge-overlap — the
    tight covering, not the blanket bbox) of every 10th polygon, unpacked to
    grid coordinates."""
    ix, iy = geo.quad_unpack("cell", res, d)
    cover = geo.quad_cover_refined("pos_list", res, d)
    inner = (
        f"select explode({cover}) as cell from geo_polys where zone_id % 10 = 0"
        if d == SPARK
        else f"select unnest({cover}) as cell from geo_polys where zone_id % 10 = 0"
    )
    return f"select {ix} as cell_x, {iy} as cell_y from ({inner}) t"


def q_grid_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isochrone grid BFS: 6-step multi-source frontier expansion at quad
    res 12 from sampled stop cells, refined polygon covers as obstacles
    (operators.graph.grid_bfs)."""
    register_geometry_views(spark, sf_dir)
    res, k = 12, 6
    sources = spark.sql(f"{_bfs_sources_sql(SPARK, res)}")
    blocked = spark.sql(f"{_bfs_blocked_sql(SPARK, res)}")
    return graph.grid_bfs(sources, blocked, max_dist=k, res=res)


def q_grid_bfs_oracle() -> str:
    res, k = 12, 6
    body = graph.grid_bfs_oracle_sql(
        _bfs_sources_sql(DUCK, res), _bfs_blocked_sql(DUCK, res), max_dist=k, res=res
    )
    return with_fixtures(body, DUCK)


_LABEL_RES = 12


def q_label_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon label point (pole-of-inaccessibility, grid form): per zone,
    the cover cell at res 12 whose CENTER lies inside the polygon and
    maximizes the minimum distance to the boundary — where map renderers
    drop the zone's name so it never touches the outline (the polylabel
    problem, discretized to the engine's own cell grid so it is exact and
    value-hash-gateable rather than an iterative approximation).  Zones
    finer than the grid emit no label point (raise the res for them — a
    knob, not a redesign).

    Shape: candidate centers from the exploded bbox cover + the gated
    ray-cast, boundary segments from the packed ring; the distance join is
    zone-keyed (cells × OWN segments only, never cross-zone), the min folds
    map-side, the argmax is a per-zone window.  Integer mm via the snap
    metric ⇒ deterministic ties (clearance desc, cell asc)."""
    register_geometry_views(spark, sf_dir)
    polys = spark.table("geo_polys")
    cov = cover_cells(polys, "zone_id", _LABEL_RES, "quad", keep=("pos_list",))
    clat, clon = geo.quad_cell_center("cell", _LABEL_RES, SPARK)
    cent = cov.where(
        F.expr(geo.point_in_polygon(clat, clon, "pos_list", SPARK))
    ).selectExpr("zone_id", "cell", f"{clat} as clat", f"{clon} as clon")
    segs = _segments(polys, "zone_id", "pos_list", "s")
    dmm = round_half(
        f"({seg_dist_m('clat', 'clon', 'sy1', 'sx1', 'sy2', 'sx2', SPARK)})"
        " * 1000.0e0",
        SPARK,
    )
    dist = (
        cent.join(segs, cent.zone_id == segs.s_id)
        .select("zone_id", "cell", F.expr(dmm).alias("dmm"))
        .groupBy("zone_id", "cell")
        .agg(F.min("dmm").alias("clearance_mm"))
    )
    w = Window.partitionBy("zone_id").orderBy(
        F.col("clearance_mm").desc(), F.col("cell").asc()
    )
    return (
        dist.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("zone_id", F.col("cell").alias("label_cell"), "clearance_mm")
    )


def q_label_point_oracle() -> str:
    r = _LABEL_RES
    clat, clon = geo.quad_cell_center("cell", r, DUCK)
    dmm = round_half(
        f"({seg_dist_m('c.clat', 'c.clon', 's.sy1', 's.sx1', 's.sy2', 's.sx2', DUCK)})"
        " * 1000.0e0",
        DUCK,
    )
    return with_fixtures(f"""with
        cov as (
            select zone_id, pos_list,
                   unnest({geo.quad_cover_bbox('pos_list', r, DUCK)}) as cell
            from geo_polys
        ),
        cent as (
            select zone_id, cell, {clat} as clat, {clon} as clon
            from cov
            where {geo.point_in_polygon(clat, clon, 'pos_list', DUCK)}
        ),
        segs as (
            select zone_id,
                   pos_list[2*t.i - 1] as sy1, pos_list[2*t.i] as sx1,
                   pos_list[2*t.i + 1] as sy2, pos_list[2*t.i + 2] as sx2
            from geo_polys,
                 unnest(generate_series(1, len(pos_list) // 2 - 1)) t(i)
        ),
        d as (
            select c.zone_id, c.cell, min({dmm}) as clearance_mm
            from cent c join segs s on s.zone_id = c.zone_id
            group by c.zone_id, c.cell
        )
        select zone_id, cell as label_cell, clearance_mm from (
            select zone_id, cell, clearance_mm,
                   row_number() over (
                       partition by zone_id
                       order by clearance_mm desc, cell asc
                   ) as rn
            from d
        ) t where rn = 1""", DUCK)


def q_pip_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-containing-zone assignment: where zones overlap, PIP yields
    multiple bindings per point — downstream consumers (stop→zone mapping)
    need exactly ONE.  Deterministic rule: the SMALLEST containing zone by
    |shoelace cross-sum| (most specific wins, the GIS convention), ties to
    zone_id asc.  Composes the gated cell-pruned PIP with the gated zonal
    area arithmetic; the dedup is a per-point argmin window over the
    (tiny) multi-match set."""
    register_geometry_views(spark, sf_dir)
    pts = spark.table("geo_points")
    polys = spark.table("geo_polys")
    bound = pip.bind_points_to_polygons(pts, polys, res=12, scheme="quad")
    area2 = polys.selectExpr(
        "zone_id",
        f"abs({geo.poly_cross_sum('pos_list', SPARK)}) as area2",
    )
    w = Window.partitionBy("point_id").orderBy(
        F.col("area2").asc(), F.col("zone_id").asc()
    )
    return (
        bound.join(F.broadcast(area2), "zone_id")
        .withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("point_id", "zone_id", F.round("area2", 9).alias("area2"))
    )


def q_pip_best_oracle() -> str:
    pred = geo.point_in_polygon("p.lat", "p.lon", "z.pos_list", DUCK)
    return with_fixtures(f"""with
        m as (
            select p.point_id, z.zone_id,
                   abs({geo.poly_cross_sum('pos_list', DUCK)}) as area2
            from geo_points p cross join geo_polys z
            where {pred}
        )
        select point_id, zone_id, round(area2, 9) as area2 from (
            select point_id, zone_id, area2,
                   row_number() over (
                       partition by point_id order by area2 asc, zone_id asc
                   ) as rn
            from m
        ) t where rn = 1""", DUCK)


def _decayed_density_sql(d: str, res: int = 12, halflife_s: int = 86400) -> str:
    """Exponential time-decay heatmap: each event contributes
    exp(−ln2·age/halflife) at its user's home cell, age measured from the
    corpus's max event time — the 'recent activity' surface map tiles and
    alerting read.  Per-row weights quantized to bigint 1e-9 BEFORE the
    per-cell fold (order-free); cell from the same deterministic hash
    location family as geo_points, so the whole query composes with every
    cell consumer.

    Scale: one corpus scan + one cell-keyed map-side-combined groupBy; the
    max-ts anchor is a 1-row aggregate cross-joined (broadcast)."""
    us = (
        "cast(timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', ts) as bigint)"
        if d == SPARK
        else "cast(epoch_us(ts) as bigint)"
    )
    la = _pr(["'pt:lat:'", "user_id"], d)
    lo = _pr(["'pt:lon:'", "user_id"], d)
    lat = f"({flit(LAT_LO)} + {la} * {flit(DLAT)})"
    lon = f"({flit(LON_LO)} + {lo} * {flit(DLON)})"
    cell = geo.quad_cell(lat, lon, res, d)
    lam = f"(0.6931471805599453e0 / {float(halflife_s)!r}e0)"  # ln2/halflife
    age_s = "(cast(t.max_us - e.us as double) / 1.0e6)"
    wq = f"cast(floor(exp(-({lam}) * {age_s}) * 1.0e9 + 0.5e0) as bigint)"
    return f"""
        with e as (
            select user_id, {us} as us, {cell} as cell from events
        ),
        t as (select max(us) as max_us from e)
        select e.cell,
               cast(count(*) as bigint) as n_events,
               cast(sum({wq}) as bigint) as decayed_q9
        from e cross join t
        group by e.cell"""


def q_corridor_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corridor join: every (point, polyline segment) pair within 2 km —
    all refined pairs, not just the snap argmin."""
    register_geometry_views(spark, sf_dir)
    return distjoin.corridor_join(
        spark.table("geo_points"), spark.table("geo_polys"), radius_m=2000.0, res=14
    )


def q_corridor_join_oracle() -> str:
    dist = distjoin.seg_dist_m("p.lat", "p.lon", "s.say", "s.sax", "s.sby", "s.sbx", DUCK)
    return with_fixtures(f"""with
        segs as (
            select zone_id, t.i as seg_idx,
                   pos_list[2*t.i - 1] as say, pos_list[2*t.i] as sax,
                   pos_list[2*t.i + 1] as sby, pos_list[2*t.i + 2] as sbx
            from geo_polys, unnest(generate_series(1, len(pos_list) // 2 - 1)) t(i)
        )
        select p.point_id, s.zone_id, s.seg_idx, round({dist}, 6) as dist_m
        from geo_points p cross join segs s
        where {dist} <= 2000.0e0""", DUCK)


# ---------------------------------------------------------------------------
# distributed convex hull
# ---------------------------------------------------------------------------
def q_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group convex hull of the point corpus in integer micro-degrees —
    the two-phase plan (hull.py): per-x reduce, bucket-summary envelope
    prune, output-sensitive exact refine.  Oracle is the brute O(n³)
    spanning-chord characterization; integer cross products make the
    comparison bit-exact."""
    register_geometry_views(spark, sf_dir)
    pts = spark.table("geo_points").selectExpr(
        "cast(point_id % 8 as int) as grp",
        "cast(floor(lon * 1000000.0e0) as bigint) as ix",
        "cast(floor(lat * 1000000.0e0) as bigint) as iy",
    )
    return hull.convex_hull(pts, "ix", "iy", ["grp"], n_buckets=32).selectExpr(
        "grp", "x", "y", "on_upper", "on_lower"
    )


def q_hull_oracle() -> str:
    return hull.hull_oracle_sql(
        points_sql(DUCK),
        "floor(lon * 1000000.0e0)",
        "floor(lat * 1000000.0e0)",
        "cast(point_id % 8 as int)",
    )


# ---------------------------------------------------------------------------
# Hilbert-curve layout key
# ---------------------------------------------------------------------------
def _hilbert_key_sql(d: str) -> str:
    """Hilbert clustering key at quad res 10 — zorder_key's
    locality-superior sibling (consecutive indices are always grid
    neighbors): res unrolled let-binding levels of pure integer SQL, bit
    identical across engines (sources.layout.hilbert_expr)."""
    return with_fixtures(
        f"select point_id, {layout.hilbert_expr('lat', 'lon', 10, d)} as h from geo_points", d
    )


# ---------------------------------------------------------------------------
# Getis-Ord Gi* hotspot detection
# ---------------------------------------------------------------------------
def q_hotspot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gi* hotspot z-score per occupied quad cell at res 11 — integer
    neighbourhood sums, one fixed IEEE op sequence (tiling.hotspot_gistar)."""
    register_geometry_views(spark, sf_dir)
    return tiling.hotspot_gistar(spark.table("geo_points"), res=11)


def q_hotspot_oracle() -> str:
    return tiling.hotspot_gistar_oracle_sql(points_sql(DUCK), res=11)


def shrunk_polys_sql(d: str, s: float = 0.3) -> str:
    """geo_polys scaled by ``s`` about each ring's centroid — thins the
    overlap graph so dissolve yields a non-trivial component structure
    (full-size geo_polys are dense enough to form one giant component).
    Identical expression text in both dialects."""
    clat = geo.poly_centroid_lat("pos_list", d)
    clon = geo.poly_centroid_lon("pos_list", d)
    idx = seq("1", "size(pos_list)" if d == SPARK else "len(pos_list)", d)
    el = "element_at(pos_list, cast(i as int))" if d == SPARK else "pos_list[i]"
    body = (
        f"case when i % 2 = 1 then clat + {flit(s)} * (({el}) - clat) "
        f"else clon + {flit(s)} * (({el}) - clon) end"
    )
    shrink = transform_(idx, "i", body, d)
    return (
        f"select zone_id, {shrink} as pos_list from "
        f"(select zone_id, pos_list, {clat} as clat, {clon} as clon from geo_polys) c"
    )


def q_dissolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon dissolve: overlap join -> alternating-star connected
    components -> per-component envelope/area rollup (overlap.dissolve);
    the oracle closes reachability with an INDEPENDENT recursive CTE.
    Runs over centroid-shrunk polys so components are non-trivial."""
    register_geometry_views(spark, sf_dir)
    # materialize the shrunk rings (poly-table-sized, tiny): inlined, the
    # centroid-fold transform would compose into the cover/overlap codegen
    # on every reference — the same blowup the oracle avoids with its
    # MATERIALIZED CTE
    shrunk = spark.sql(shrunk_polys_sql(SPARK)).localCheckpoint(eager=True)
    return overlap.dissolve(shrunk, res=12)


def q_dissolve_oracle() -> str:
    # MATERIALIZED: without it DuckDB inlines the shrink transform into the
    # O(n²) overlap predicate and re-evaluates the centroid fold per pair
    return with_fixtures(
        f"with recursive geo_polys_shrunk as materialized ({shrunk_polys_sql(DUCK)}), "
        f"{overlap.dissolve_oracle_sql('geo_polys_shrunk')}",
        DUCK,
    )


# ---------------------------------------------------------------------------
# Local Moran's I (LISA) cluster/outlier map
# ---------------------------------------------------------------------------
def q_moran(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anselin LISA per occupied res-11 cell: integer numerators, one double
    division, sign-exact HH/LL/HL/LH quadrants (tiling.moran_local)."""
    register_geometry_views(spark, sf_dir)
    return tiling.moran_local(spark.table("geo_points"), res=11)


def q_moran_oracle() -> str:
    return tiling.moran_local_oracle_sql(points_sql(DUCK), res=11)


# ---------------------------------------------------------------------------
# Mann-Kendall per-cell trend (emerging-hotspot primitive)
# ---------------------------------------------------------------------------
_MK_T = 8


def _mk_points_sql(d: str) -> str:
    """geo_points with a hash-derived time bucket 0..T-1 (deterministic
    space-time cube; identical expression both dialects)."""
    pr = _pr(["'mk:b:'", "point_id"], d)
    return (
        f"select point_id, lat, lon, cast(floor({pr} * {_MK_T}) as int) as bucket "
        f"from geo_points"
    )


def q_mk_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend z per occupied res-11 cell over an 8-bucket
    space-time cube: integer S + tie-adjusted variance, densified zeros
    (tiling.mk_trend)."""
    register_geometry_views(spark, sf_dir)
    pts = spark.sql(_mk_points_sql(SPARK))
    return tiling.mk_trend(pts, n_buckets=_MK_T, res=11)


def q_mk_trend_oracle() -> str:
    inner = tiling.mk_trend_oracle_sql(
        f"select * from ({_mk_points_sql(DUCK)}) _p", n_buckets=_MK_T, res=11
    )
    return with_fixtures(f"with __res as ({inner}) select * from __res", DUCK)


# ---------------------------------------------------------------------------
# Ripley's K point-pattern statistic
# ---------------------------------------------------------------------------
_RIPLEY_RADII = [300.0, 600.0, 1200.0, 2400.0]


def q_ripley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ripley K/L at four radii over geo_points: one exact radius_join at
    r_max + one 1-row aggregate; integer pair counts (tiling.ripley_k)."""
    register_geometry_views(spark, sf_dir)
    return tiling.ripley_k(spark.table("geo_points"), _RIPLEY_RADII, res=13)


def q_ripley_oracle() -> str:
    body = tiling.ripley_k_oracle_sql("select * from geo_points", _RIPLEY_RADII)
    return with_fixtures(f"with __r as ({body}) select * from __r", DUCK)


def q_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution tile pyramid (res 9..13) in one ROLLUP shuffle:
    finest cell quantized once, parents by integer truncation, integer
    hash weights so every level's sums are exact (tiling.tile_pyramid)."""
    register_geometry_views(spark, sf_dir)
    return tiling.tile_pyramid(spark.table("geo_points"), res_hi=13, res_lo=9)


def q_pyramid_oracle() -> str:
    return with_fixtures(
        f"with {tiling.tile_pyramid_oracle_sql('geo_points', res_hi=13, res_lo=9)}", DUCK
    )


def q_zone_stats_sph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geodesic (spherical-excess) zone area + haversine perimeter — the
    real-units sibling of zone_stats' planar deg² metrics."""
    register_geometry_views(spark, sf_dir)
    return spark.table("geo_polys").selectExpr(
        "zone_id",
        f"round({geo.poly_area_sph_m2('pos_list', SPARK)}, 3) as area_m2",
        f"round({geo.poly_perimeter_m('pos_list', SPARK)}, 3) as perimeter_m",
    )


def q_zone_stats_sph_oracle() -> str:
    return with_fixtures(f"""
        select zone_id,
               round({geo.poly_area_sph_m2('pos_list', DUCK)}, 3) as area_m2,
               round({geo.poly_perimeter_m('pos_list', DUCK)}, 3) as perimeter_m
        from geo_polys""", DUCK)


# ---------------------------------------------------------------------------
# Ring validity audit + repair
# ---------------------------------------------------------------------------
def corrupt_polys_sql(d: str) -> str:
    """Deterministically corrupted geo_polys: zone_id % 3 == 0 → ring
    reversed (cw); % 3 == 1 → closure dropped (open); % 3 == 2 → second
    vertex duplicated (zero-length edge).  Identical expression text in both
    dialects, so both engines audit/repair the same broken rings."""
    if d == SPARK:
        n = "(size(pos_list) div 2)"
        rev = (
            f"flatten(transform(sequence({n}, 1, -1), i -> "
            "array(element_at(pos_list, cast(2*i - 1 as int)), "
            "element_at(pos_list, cast(2*i as int)))))"
        )
        open_ = "slice(pos_list, 1, size(pos_list) - 2)"
        dup = ("concat(slice(pos_list, 1, 4), slice(pos_list, 3, 2), "
               "slice(pos_list, 5, size(pos_list) - 4))")
    else:
        n = "(len(pos_list) // 2)"
        rev = (
            f"flatten(list_transform(generate_series({n}, 1, -1), i -> "
            "[pos_list[2*i - 1], pos_list[2*i]]))"
        )
        open_ = "pos_list[1:len(pos_list) - 2]"
        dup = ("list_concat(list_concat(pos_list[1:4], pos_list[3:4]), "
               "pos_list[5:len(pos_list)])")
    return (
        f"select zone_id, case when zone_id % 3 = 0 then {rev} "
        f"when zone_id % 3 = 1 then {open_} "
        f"else {dup} end as pos_list from geo_polys"
    )


def q_ring_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validity audit over the corrupted fixture: closure, dup vertices,
    orientation, proper self-crossings (operators/validity.py)."""
    register_geometry_views(spark, sf_dir)
    cor = spark.sql(corrupt_polys_sql(SPARK))
    return validity.ring_validity(cor)


def q_ring_validity_oracle() -> str:
    body = validity.ring_validity_oracle_sql(corrupt_polys_sql(DUCK))
    return with_fixtures(f"with __v as ({body}) select * from __v", DUCK)


def q_ring_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repair the corrupted rings (dedup → close → CCW-normalize); ring
    emitted as a comma-joined string for the value-hash gate."""
    register_geometry_views(spark, sf_dir)
    cor = spark.sql(corrupt_polys_sql(SPARK))
    return validity.repair_rings(cor).selectExpr(
        "zone_id", "array_join(pos_list, ',') as ring_str"
    )


def q_ring_repair_oracle() -> str:
    body = validity.repair_rings_oracle_sql(corrupt_polys_sql(DUCK))
    return with_fixtures(f"with __r as ({body}) select * from __r", DUCK)


def q_cell_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cellToBoundary for the occupied res-8 hex and quad cells of
    geo_points: 6 (hex) / 4 (quad) exploded vertices per distinct cell, CCW.
    The ring array is staged as a column before the explode so the boundary
    expression evaluates once per cell, not once per vertex."""
    register_geometry_views(spark, sf_dir)
    out = []
    for scheme, nv, bfn, cfn in (
        ("hex", 6, geo.hex_boundary, geo.hex_cell),
        ("quad", 4, geo.quad_boundary, geo.quad_cell),
    ):
        cells = spark.table("geo_points").selectExpr(
            f"{cfn('lat', 'lon', 8, SPARK)} as cell"
        ).distinct()
        staged = cells.selectExpr("cell", f"{bfn('cell', 8, SPARK)} as b")
        out.append(
            staged.selectExpr(
                f"'{scheme}' as scheme",
                "cell",
                f"explode(sequence(1, {nv})) as v_idx",
                "b",
            ).selectExpr(
                "scheme", "cell", "v_idx",
                "element_at(b, 2 * v_idx - 1) as vlat",
                "element_at(b, 2 * v_idx) as vlon",
            )
        )
    return out[0].unionByName(out[1])


def q_cell_boundary_oracle() -> str:
    parts = []
    for scheme, nv, bfn, cfn in (
        ("hex", 6, geo.hex_boundary, geo.hex_cell),
        ("quad", 4, geo.quad_boundary, geo.quad_cell),
    ):
        parts.append(f"""
            select '{scheme}' as scheme, cell, t.v as v_idx,
                   b[2 * t.v - 1] as vlat, b[2 * t.v] as vlon
            from (
                select cell, {bfn('cell', 8, DUCK)} as b
                from (select distinct {cfn('lat', 'lon', 8, DUCK)} as cell
                      from geo_points)
            ) cross join unnest(generate_series(1, {nv})) t(v)
        """)
    return with_fixtures(" " + " union all ".join(parts), DUCK)


def q_tile_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MVT-style vector-tile cut: zone rings Sutherland-Hodgman-clipped to
    every tile of their refined res-7 quad cover, quantized to the 256-unit
    tile-local grid (operators/vectortile.py)."""
    register_geometry_views(spark, sf_dir)
    return vectortile.tile_cut(spark.table("geo_polys"), res=7, extent=256)


def q_tile_cut_oracle() -> str:
    body = vectortile.tile_cut_sql(DUCK, res=7, extent=256, cover_table="__tcc")
    return with_fixtures(
        f"with __tcc as ({vectortile.duck_cover_cte(res=7)}), "
        f"__out as ({body}) select * from __out",
        DUCK,
    )


def q_contour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marching-squares iso-density contour segments at 3 points/cell over
    the res-12 grid (tiling.contour): scatter-to-blocks + table-driven case
    emission, saddles fixed deterministically."""
    register_geometry_views(spark, sf_dir)
    return tiling.contour(spark, res=12, threshold=3)


def q_contour_oracle() -> str:
    body = tiling.contour_sql(DUCK, res=12, threshold=3)
    return with_fixtures(f"with __ct as ({body}) select * from __ct", DUCK)


def q_service_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isochrone cells: exact min-mm distance from the seed cells through
    4 relaxation rounds over the occupied res-12 grid
    (tiling.service_area)."""
    register_geometry_views(spark, sf_dir)
    return tiling.service_area(spark, res=12, n_rounds=4, seed_mod=9)


def q_service_area_oracle() -> str:
    body = tiling.service_area_oracle_sql(res=12, n_rounds=4, seed_mod=9)
    return with_fixtures(f"with __sa as ({body}) select * from __sa", DUCK)


def _locate_along_sql(d: str) -> str:
    """Linear referencing INVERSE (NeTEx PointOnLink / dynamic segmentation):
    for each zone ring and fraction f ∈ {¼, ½, ¾}, the interpolated point
    at f·total_length along the ring — how schedules place stops at
    chainages.  Same integer-mm prefix table as linear_ref (order-free
    cumsum); the owning segment is the one whose [prefix, prefix+len)
    half-open interval contains the target (exact integer compare), the
    interpolation one fixed float sequence rounded 9.

    Scale: segments explode lines-sized; the per-(zone, f) segment pick is
    a keyed filter (no window over the corpus); everything joins on
    zone_id."""
    if d == SPARK:
        seg_src = (
            "select zone_id, i, "
            "element_at(pos_list, cast(2*i - 1 as int)) as sy1, "
            "element_at(pos_list, cast(2*i as int)) as sx1, "
            "element_at(pos_list, cast(2*i + 1 as int)) as sy2, "
            "element_at(pos_list, cast(2*i + 2 as int)) as sx2 "
            "from (select zone_id, pos_list, "
            "explode(sequence(1, size(pos_list) div 2 - 1)) as i from geo_polys)"
        )
        fracs = "select explode(array(0.25e0, 0.5e0, 0.75e0)) as f"
    else:
        seg_src = (
            "select zone_id, t.i as i, "
            "pos_list[2*t.i - 1] as sy1, pos_list[2*t.i] as sx1, "
            "pos_list[2*t.i + 1] as sy2, pos_list[2*t.i + 2] as sx2 "
            "from geo_polys, "
            "unnest(generate_series(1, len(pos_list) // 2 - 1)) t(i)"
        )
        fracs = "select unnest([0.25e0, 0.5e0, 0.75e0]) as f"
    seg_len = round_half(
        f"({haversine_m('sy1', 'sx1', 'sy2', 'sx2', d)}) * 1000.0e0", d
    )
    t = "(cast(g.target_mm - s.prefix_mm as double) / cast(s.seg_len_mm as double))"
    return with_fixtures(f"""
        with segs as ({seg_src}),
        seg_tab as (
            select zone_id, i, sy1, sx1, sy2, sx2,
                   {seg_len} as seg_len_mm,
                   cast(coalesce(sum({seg_len}) over (
                       partition by zone_id order by i
                       rows between unbounded preceding and 1 preceding), 0)
                       as bigint) as prefix_mm
            from segs
        ),
        tot as (
            select zone_id, cast(sum(seg_len_mm) as bigint) as total_mm
            from seg_tab group by zone_id
        ),
        goals as (
            select tot.zone_id, fr.f,
                   cast(floor(fr.f * cast(tot.total_mm as double)) as bigint)
                       as target_mm
            from tot cross join ({fracs}) fr
        )
        select g.zone_id, g.f,
               g.target_mm,
               cast(s.i as bigint) as seg_idx,
               round(s.sy1 + {t} * (s.sy2 - s.sy1), 9) as lat,
               round(s.sx1 + {t} * (s.sx2 - s.sx1), 9) as lon
        from goals g
        join seg_tab s
          on s.zone_id = g.zone_id
         and s.prefix_mm <= g.target_mm
         and g.target_mm < s.prefix_mm + s.seg_len_mm""", d)


_G_RADII = [250.0, 500.0, 1000.0, 2000.0]


def q_g_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor distance distribution G(r) at four radii
    (operators.tiling.g_function) — Ripley's K's sibling separating
    aggregation from inhibition."""
    register_geometry_views(spark, sf_dir)
    return tiling.g_function(spark.table("geo_points"), _G_RADII, res=13)


def q_g_function_oracle() -> str:
    body = tiling.g_function_oracle_sql("select * from geo_points", _G_RADII)
    return with_fixtures(f"with __g as ({body}) select * from __g", DUCK)


def _zorder_ranges_sql(d: str, res: int = 9) -> str:
    """Z-order RANGE PLANNER: per zone, the minimal set of contiguous
    Morton-key ranges covering its cells at ``res`` — the index-pruning
    primitive that turns a spatial predicate into file/row-group skip
    ranges over a Z-ordered layout (the read-side complement of
    write_zordered).  Pure integers: cover cells → morton keys → islands
    of consecutive keys (key − row_number is constant within an island).

    Scale: cover explode (bounded fan-out) + ONE per-zone window + a
    per-(zone, island) groupBy — no corpus involvement at all; ranges are
    what the scan planner broadcasts."""
    cover = geo.quad_cover_bbox("pos_list", res, d)
    ex = (
        f"select zone_id, explode({cover}) as cell from geo_polys"
        if d == SPARK
        else f"select zone_id, unnest({cover}) as cell from geo_polys"
    )
    ix, iy = geo.quad_unpack("cell", res, d)
    z = layout.morton_key(f"({ix})", f"({iy})", d)
    return with_fixtures(f"""
        with cov as ({ex}),
        keyed as (
            select zone_id, cast({z} as bigint) as zkey from cov
        ),
        ranked as (
            select zone_id, zkey,
                   zkey - row_number() over (
                       partition by zone_id order by zkey asc) as island
            from keyed
        )
        select zone_id,
               cast(min(zkey) as bigint) as z_lo,
               cast(max(zkey) as bigint) as z_hi,
               cast(count(*) as bigint) as n_cells
        from ranked group by zone_id, island""", d)


def _cell_entropy_sql(d: str, res: int = 11) -> str:
    """Spatial diversity index: per res-11 cell the Shannon entropy of its
    event-type mix (and the effective number of types e^H) — the
    segregation/mixing metric urban analytics reads off a map (H = 0:
    single-use cell; ln k: perfectly mixed).  Cells from the same
    deterministic user-home mapping as decayed_density; entropy terms
    −(n_i/n)·ln(n_i/n) quantized to bigint 1e-9 PER TYPE before the fold
    (order-free), e^H one final exp.

    Scale: one corpus scan → (cell, type) counts with map-side combine →
    cell-keyed fold; outputs are cell-table-sized."""
    la = _pr(["'pt:lat:'", "user_id"], d)
    lo = _pr(["'pt:lon:'", "user_id"], d)
    lat = f"({flit(LAT_LO)} + {la} * {flit(DLAT)})"
    lon = f"({flit(LON_LO)} + {lo} * {flit(DLON)})"
    cell = geo.quad_cell(lat, lon, res, d)
    hterm = (
        "cast(floor(-(cast(c as double) / cast(tot as double))"
        " * ln(cast(c as double) / cast(tot as double))"
        " * 1.0e9 + 0.5e0) as bigint)"
    )
    return f"""
        with e as (
            select {cell} as cell, event_type from events
        ),
        ct as (
            select cell, event_type, cast(count(*) as bigint) as c
            from e group by cell, event_type
        ),
        tc as (
            select cell, cast(sum(c) as bigint) as tot,
                   cast(count(*) as bigint) as k
            from ct group by cell
        ),
        h as (
            select ct.cell,
                   cast(sum(case when ct.c = tc.tot then 0
                            else {hterm} end) as bigint) as h_q9,
                   max(tc.tot) as n_events, max(tc.k) as n_types
            from ct join tc on tc.cell = ct.cell
            group by ct.cell
        )
        select cell, n_events, n_types, h_q9,
               round(exp(cast(h_q9 as double) / 1.0e9), 9) as effective_types
        from h"""


def _skew_report_sql(d: str, res: int = 8) -> str:
    """Join-key skew diagnostics for the spatial partitioning: per res-8
    cell load (points per cell), the shares of the heaviest and top-10
    cells, and the Gini of cell loads — the report that tells an operator
    whether a key needs salting/AQE BEFORE the job falls over (the
    observability face of operators/skew.py).  Exact integer closed-form
    Gini (the gini query's formula) over the cell-load dimension table.

    Scale: one scan → cell counts (map-side combine); every statistic runs
    over the cell table, never the corpus."""
    cell = geo.quad_cell("lat", "lon", res, d)
    return with_fixtures(f"""
        with c as (
            select {cell} as cell, cast(count(*) as bigint) as n
            from geo_points group by 1
        ),
        ranked as (
            select n,
                   cast(row_number() over (order by n asc, cell asc) as bigint) as i,
                   cast(row_number() over (order by n desc, cell asc) as bigint) as ri,
                   cast(count(*) over () as bigint) as k,
                   cast(sum(n) over () as bigint) as tot
            from c
        )
        select max(k) as n_cells,
               max(tot) as n_points,
               cast(max(case when ri = 1 then n end) as bigint) as max_cell_load,
               round(cast(max(case when ri = 1 then n end) as double)
                     / cast(max(tot) as double), 9) as top1_share,
               round(cast(sum(case when ri <= 10 then n else 0 end) as double)
                     / cast(max(tot) as double), 9) as top10_share,
               round(cast(2 * sum(i * n) - (max(k) + 1) * max(tot) as double)
                     / cast(max(k) * max(tot) as double), 9) as load_gini
        from ranked""", d)


def q_linear_ref(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear referencing: snap + integer-mm chainage along the polyline
    (prefix cumsum of segment lengths + round(t·seg_len), the NeTEx
    LinkSequence primitive — distjoin.linear_reference)."""
    register_geometry_views(spark, sf_dir)
    return distjoin.linear_reference(
        spark.table("geo_points"), spark.table("geo_polys"),
        radius_m=2000.0, res=14,
    )


def q_linear_ref_oracle() -> str:
    dist = distjoin.seg_dist_m("p.lat", "p.lon", "s.say", "s.sax", "s.sby", "s.sbx", DUCK)
    t = distjoin.seg_t_expr("p2.lat", "p2.lon", "st.say", "st.sax", "st.sby", "st.sbx", DUCK)
    seg_len = f"cast(round(({haversine_m('say', 'sax', 'sby', 'sbx', DUCK)}) * 1000.0e0) as bigint)"
    return with_fixtures(f"""with
        segs as (
            select zone_id, t.i as seg_idx,
                   pos_list[2*t.i - 1] as say, pos_list[2*t.i] as sax,
                   pos_list[2*t.i + 1] as sby, pos_list[2*t.i + 2] as sbx
            from geo_polys, unnest(generate_series(1, len(pos_list) // 2 - 1)) t(i)
        ),
        seg_tab as (
            select zone_id, seg_idx, say, sax, sby, sbx,
                   {seg_len} as seg_len_mm,
                   coalesce(sum({seg_len}) over (
                       partition by zone_id order by seg_idx
                       rows between unbounded preceding and 1 preceding), 0)
                       as prefix_mm
            from segs
        ),
        cand as (
            select p.point_id, s.zone_id, s.seg_idx, {dist} as d
            from geo_points p cross join segs s
        ),
        snapped as (
            select point_id, zone_id, seg_idx, round(d, 6) as dist_m
            from (select *, row_number() over (partition by point_id
                      order by d, zone_id, seg_idx) as rn
                  from cand where d <= 2000.0e0)
            where rn = 1
        )
        select sn.point_id as point_id, sn.zone_id as zone_id,
               sn.seg_idx as seg_idx, sn.dist_m as dist_m,
               cast(st.prefix_mm + cast(round(({t}) * cast(st.seg_len_mm as double))
                   as bigint) as bigint) as chainage_mm
        from snapped sn
        join seg_tab st on sn.zone_id = st.zone_id and sn.seg_idx = st.seg_idx
        join geo_points p2 on sn.point_id = p2.point_id
    """, DUCK)


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
    ix, iy = geo.quad_ixy("lat", "lon", res, d)
    ring = (
        "select cx + dx as tx, cy + dy as ty, cnt as xj from (select cx, cy, cnt,"
        " explode(sequence(-1, 1)) as dx from counts) a"
        " lateral view explode(sequence(-1, 1)) t as dy where dx <> 0 or dy <> 0"
        if d == SPARK
        else "select cx + dx.x as tx, cy + dy.y as ty, cnt as xj from counts,"
        " unnest(generate_series(-1, 1)) dx(x), unnest(generate_series(-1, 1)) dy(y)"
        " where dx.x <> 0 or dy.y <> 0"
    )
    return with_fixtures(f"""
        with pts as (select lat, lon from geo_points),
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
        from pairs cross join gstats""", d)


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
    return with_fixtures(f"""with bbox as (
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
        {tail}""", d)


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
    return with_fixtures(f"""with cells as (
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
                   (max(lon) - min(lon)) * {m_per_deg} * {COSLAT0!r}e0 as dx_m
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
        from obs o cross join tot t cross join bbox b""", d)


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
    ix, iy = geo.quad_ixy("lat", "lon", res, d)
    return with_fixtures(f"""with cells as (
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
        from agg""", d)


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
    m_per_deg = "111194.92664455873e0"
    k = f"{COSLAT0!r}e0"
    q9 = "cast(floor({} * 1.0e9 + 0.5e0) as bigint)"
    dx = f"((lon - c.clon) * {k} * {m_per_deg})"
    dy = f"((lat - c.clat) * {m_per_deg})"
    q3 = "cast(floor({} * 1.0e3 + 0.5e0) as bigint)"
    return with_fixtures(f"""with cent as (
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
        from moments""", d)


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
    ix, iy = geo.quad_ixy("lat", "lon", res, d)
    pts = _mk_points_sql(d)
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
    return with_fixtures(f"""with counts as (
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
        from hot h join mk m on m.cx = h.cx and m.cy = h.cy""", d)


# ---------------------------------------------------------------------------
# Exact supercover line rasterization: cells a polyline actually crosses
# ---------------------------------------------------------------------------
_LR_RES = 11


def _line_raster_sql(d: str, res: int = _LR_RES) -> str:
    """Per occupied cell: how many polyline segments (and distinct zones)
    actually CROSS it — the exact supercover, not a bbox smear.  A segment
    crosses cell rect [x0,x1]×[y0,y1] iff the parametric t-intervals where
    x(t) and y(t) lie inside the bounds intersect within [0,1] — the
    slab test, exact in IEEE (identical divisions both engines), with the
    degenerate axis (dx=0 / dy=0) handled by a containment case.

    Scale: candidate cells are the segment's OWN bbox cells (no padding —
    cover size is the segment's true cell extent); the slab test prunes
    bbox corners the line misses; cell-keyed partial aggregation.  The
    bbox explode is the seg_candidates shape, fan-out bounded for
    street-scale segments at the res knob."""
    n = 2 ** res
    cw, ch = 360.0 / n, 180.0 / n
    if d == SPARK:
        segs = (
            f"select zone_id, element_at(pos_list, cast(2*i - 1 as int)) as ay,"
            f" element_at(pos_list, cast(2*i as int)) as ax,"
            f" element_at(pos_list, cast(2*i + 1 as int)) as by_,"
            f" element_at(pos_list, cast(2*i + 2 as int)) as bx"
            f" from (select zone_id, pos_list,"
            f" explode(sequence(1, size(pos_list) div 2 - 1)) as i from geo_polys)"
        )
    else:
        segs = (
            f"select zone_id, pos_list[2*t.i - 1] as ay, pos_list[2*t.i] as ax,"
            f" pos_list[2*t.i + 1] as by_, pos_list[2*t.i + 2] as bx"
            f" from geo_polys, unnest(generate_series(1, len(pos_list) // 2 - 1)) t(i)"
        )
    ix_lo, iy_lo = geo.quad_ixy("least(ay, by_)", "least(ax, bx)", res, d)
    ix_hi, iy_hi = geo.quad_ixy("greatest(ay, by_)", "greatest(ax, bx)", res, d)
    if d == SPARK:
        cells = (
            f"select zone_id, ay, ax, by_, bx, cy, explode(sequence(ixl, ixh)) as cx"
            f" from (select zone_id, ay, ax, by_, bx, {ix_lo} as ixl, {ix_hi} as ixh,"
            f" explode(sequence({iy_lo}, {iy_hi})) as cy from ({segs}))"
        )
    else:
        cells = (
            f"select zone_id, ay, ax, by_, bx, cy.y as cy, cx.x as cx"
            f" from ({segs}) s,"
            f" unnest(generate_series({iy_lo}, {iy_hi})) cy(y),"
            f" unnest(generate_series({ix_lo}, {ix_hi})) cx(x)"
        )
    x0 = f"(-180.0e0 + cast(cx as double) * {flit(cw)})"
    x1 = f"(-180.0e0 + cast(cx + 1 as double) * {flit(cw)})"
    y0 = f"(-90.0e0 + cast(cy as double) * {flit(ch)})"
    y1 = f"(-90.0e0 + cast(cy + 1 as double) * {flit(ch)})"
    slab = (
        f"case when bx = ax then (ax >= {x0} and ax <= {x1}) "
        f"when by_ = ay then (ay >= {y0} and ay <= {y1}) "
        f"else greatest("
        f"least(({x0} - ax) / (bx - ax), ({x1} - ax) / (bx - ax)), "
        f"least(({y0} - ay) / (by_ - ay), ({y1} - ay) / (by_ - ay)), 0.0e0)"
        f" <= least("
        f"greatest(({x0} - ax) / (bx - ax), ({x1} - ax) / (bx - ax)), "
        f"greatest(({y0} - ay) / (by_ - ay), ({y1} - ay) / (by_ - ay)), 1.0e0) end"
    )
    # the pure-vertical/-horizontal cases above skip the OTHER axis's slab:
    # restore it by re-checking the bbox explode already bounds that axis
    cell = geo.quad_pack("cx", "cy", res)
    return with_fixtures(f"""
        select {cell} as cell,
               cast(count(*) as bigint) as n_segs,
               cast(count(distinct zone_id) as bigint) as n_zones
        from ({cells}) c
        where {slab}
        group by 1""", d)


# ---------------------------------------------------------------------------
# Google Encoded Polyline (interchange format for zone rings / tracks)
# ---------------------------------------------------------------------------
def _polyline_encode_sql(d: str) -> str:
    """Per zone, the Google Encoded Polyline Algorithm Format string of its
    ring: 1e-5 quantize (floor(x·1e5+0.5) both dialects), same-axis deltas,
    zigzag, 5-bit little-endian chunks with continuation bit, +63 ASCII —
    verified against the algorithm's published worked example
    ('_p~iF~ps|U_ulLnnqC_mqNvxq`@').  The wire format map APIs exchange
    routes in, as a pure scan-parallel projection.

    Scale: zone-table-sized; zero joins, zero shuffles beyond the scan."""
    return with_fixtures(_polylines_sql(d), d)


def _polylines_sql(d: str) -> str:
    """(zone_id, n_pts, polyline) over geo_polys, without the fixture
    prefix: _polyline_roundtrip_sql reads it as a CTE of its own."""
    if d == SPARK:
        chunk = (
            "case when i = 0 or shiftright(v, 5*i) > 0 then "
            "char(cast((shiftright(v, 5*i) & 31) + "
            "(case when shiftright(v, 5*(i+1)) > 0 then 32 else 0 end) + 63 as int)) "
            "else '' end"
        )
        enc = f"concat_ws('', transform(sequence(0, 6), i -> {chunk}))"
        return f"""
            select zone_id, cast(size(pos_list) div 2 as bigint) as n_pts,
                   concat_ws('', transform(zz, v -> {enc})) as polyline
            from (
              select zone_id, pos_list,
                     transform(dl, x -> case when x >= 0 then 2*x else -2*x - 1 end) as zz
              from (
                select zone_id, pos_list,
                       transform(sequence(1, size(pos_list)), i ->
                         element_at(qq, cast(i as int)) -
                         (case when i > 2 then element_at(qq, cast(i - 2 as int))
                               else cast(0 as bigint) end)) as dl
                from (
                  select zone_id, pos_list,
                         transform(pos_list, x ->
                           cast(floor(x * 1.0e5 + 0.5e0) as bigint)) as qq
                  from geo_polys)))"""
    chunk = (
        "case when i = 0 or (v >> (5*i)) > 0 then "
        "chr(cast(((v >> (5*i)) & 31) + "
        "(case when (v >> (5*(i+1))) > 0 then 32 else 0 end) + 63 as integer)) "
        "else '' end"
    )
    enc = f"list_aggregate(list_transform(generate_series(0, 6), i -> {chunk}), 'string_agg', '')"
    return f"""
        select zone_id, cast(len(pos_list) // 2 as bigint) as n_pts,
               list_aggregate(list_transform(zz, v -> {enc}), 'string_agg', '')
                   as polyline
        from (
          select zone_id, pos_list,
                 list_transform(dl, x -> case when x >= 0 then 2*x else -2*x - 1 end) as zz
          from (
            select zone_id, pos_list,
                   list_transform(generate_series(1, len(pos_list)), i ->
                     qq[i] - (case when i > 2 then qq[i-2]
                                   else cast(0 as bigint) end)) as dl
            from (
              select zone_id, pos_list,
                     list_transform(pos_list, x ->
                       cast(floor(x * 1.0e5 + 0.5e0) as bigint)) as qq
              from geo_polys)))"""


def _polyline_roundtrip_sql(d: str) -> str:
    """Self-checking inverse: decode every zone's encoded polyline back to
    quantized coordinates entirely in SQL (chunk regrouping by
    continuation bit via one cumulative window, 5-bit shifts, zigzag
    undo, per-axis prefix sums) and emit the max abs error vs the
    quantized original ring — 0 for every zone proves encode/decode are
    exact inverses inside BOTH engines, not just in the Python replay.

    Scale: string explode is ∝ encoded length over the zone DIMENSION;
    windows partition by zone; the corpus is never touched."""
    if d == SPARK:
        chars = (
            "select zone_id, i, ascii(substring(polyline, i, 1)) - 63 as code "
            "from (select zone_id, polyline, "
            "explode(sequence(1, length(polyline))) as i from enc)"
        )
        shift = "cast(shiftleft(cast(1 as bigint), cast(5 * (i - min_i) as int)) as bigint)"
        dv = "div"
        orig = (
            "select zone_id, cast((k - 1) as bigint) div 2 as pt, (k - 1) % 2 as axis, "
            "cast(floor(element_at(pos_list, cast(k as int)) * 1.0e5 + 0.5e0) as bigint) as q5 "
            "from (select zone_id, pos_list, "
            "explode(sequence(1, size(pos_list))) as k from geo_polys)"
        )
    else:
        chars = (
            "select zone_id, t.i as i, ascii(polyline[t.i]) - 63 as code "
            "from enc, unnest(generate_series(1, length(polyline))) t(i)"
        )
        shift = "(cast(1 as bigint) << cast(5 * (i - min_i) as integer))"
        dv = "//"
        orig = (
            "select zone_id, cast((t.k - 1) as bigint) // 2 as pt, (t.k - 1) % 2 as axis, "
            "cast(floor(pos_list[t.k] * 1.0e5 + 0.5e0) as bigint) as q5 "
            "from geo_polys, unnest(generate_series(1, len(pos_list))) t(k)"
        )
    return with_fixtures(f"""
        with enc as ({_polylines_sql(d)}),
        chars as ({chars}),
        grp as (
            select zone_id, i, code,
                   coalesce(sum(case when code < 32 then 1 else 0 end)
                       over (partition by zone_id order by i
                             rows between unbounded preceding and 1 preceding),
                       0) as g
            from chars
        ),
        vals as (
            select zone_id, g,
                   cast(sum((code % 32) * {shift}) as bigint) as z
            from (select zone_id, i, code, g,
                         min(i) over (partition by zone_id, g) as min_i
                  from grp) t
            group by zone_id, g
        ),
        deltas as (
            select zone_id, g,
                   case when z % 2 = 1 then -((z + 1) {dv} 2)
                        else z {dv} 2 end as dd
            from vals
        ),
        coords as (
            select zone_id, g {dv} 2 as pt, g % 2 as axis,
                   sum(dd) over (partition by zone_id, g % 2 order by g) as q
            from deltas
        ),
        orig as ({orig}),
        joined as (
            select o.zone_id, abs(c.q - o.q5) as err
            from orig o join coords c
              on c.zone_id = o.zone_id and c.pt = o.pt and c.axis = o.axis
        )
        select zone_id, cast(count(*) as bigint) as n_vals,
               cast(max(err) as bigint) as max_abs_err
        from joined group by zone_id""", d)


# ---------------------------------------------------------------------------
# Areal interpolation (zone statistic → cell surface)
# ---------------------------------------------------------------------------
_AI_RES = 12


def _areal_interp_sql(d: str) -> str:
    """Areal-weighted transfer of a zone statistic onto the cell lattice
    (the dasymetric step under every choropleth-regrid): each zone's
    value (supplier account balance, integer 1e-2) spreads equally over
    its cover cells (value div n_cells — exact integer, remainder
    documented as truncated), and each cell sums its zones' shares.
    Output per cell: contributing-zone count and the interpolated total.

    Scale: the zonal_majority cover shape — cover explode keyed by zone,
    one zone-sized count, one cell-keyed map-side-combined sum; the
    lattice join never touches the corpus."""
    div = "div" if d == SPARK else "//"
    cover = (
        f"select zone_id, explode({geo.quad_cover_bbox('pos_list', _AI_RES, d)})"
        f" as cell from geo_polys"
        if d == SPARK
        else f"select zone_id, unnest({geo.quad_cover_bbox('pos_list', _AI_RES, d)})"
        f" as cell from geo_polys"
    )
    val = (
        "select s_suppkey as zone_id, "
        "cast(floor(s_acctbal * 1.0e2 + 0.5e0) as bigint) as val_q2 "
        "from supplier"
    )
    return with_fixtures(f"""with cover as ({cover}),
        ncell as (
            select zone_id, cast(count(*) as bigint) as n_cells
            from cover group by zone_id
        ),
        zval as ({val}),
        spread as (
            select c.cell, c.zone_id,
                   cast(z.val_q2 {div} n.n_cells as bigint) as share_q2
            from cover c
            join ncell n on n.zone_id = c.zone_id
            join zval z on z.zone_id = c.zone_id
        )
        select cell,
               cast(count(*) as bigint) as n_zones,
               cast(sum(share_q2) as bigint) as total_q2
        from spread
        group by cell""", d)


# ---------------------------------------------------------------------------
# Geodesic densification
# ---------------------------------------------------------------------------
_DN_STEP_M = 500.0


def _densify_sql(d: str) -> str:
    """Per zone: vertex count, ring length, and the number of vertices a
    500 m geodesic densification inserts (k−1 per segment, k =
    ⌈len/step⌉) — the pre-processing step under raster sampling along
    boundaries and high-resolution buffering.  Segment lengths quantize
    to integer millimetres BEFORE the ceil-division, so the step count is
    an exact integer decision (the sub-mm rounding convention every
    distance query here uses).

    Scale: segment explode keyed by zone (the line_raster segs shape) +
    one zone-keyed map-side-combined aggregate; no lattice, no join."""
    if d == SPARK:
        segs = (
            f"select zone_id, element_at(pos_list, cast(2*i - 1 as int)) as ay,"
            f" element_at(pos_list, cast(2*i as int)) as ax,"
            f" element_at(pos_list, cast(2*i + 1 as int)) as by_,"
            f" element_at(pos_list, cast(2*i + 2 as int)) as bx"
            f" from (select zone_id, pos_list,"
            f" explode(sequence(1, size(pos_list) div 2 - 1)) as i from geo_polys)"
        )
    else:
        segs = (
            f"select zone_id, pos_list[2*t.i - 1] as ay, pos_list[2*t.i] as ax,"
            f" pos_list[2*t.i + 1] as by_, pos_list[2*t.i + 2] as bx"
            f" from geo_polys, unnest(generate_series(1, len(pos_list) // 2 - 1)) t(i)"
        )
    div = "div" if d == SPARK else "//"
    step_mm = int(_DN_STEP_M * 1000)
    leg_mm = (
        f"cast(floor({haversine_m('ay', 'ax', 'by_', 'bx', d)} * 1.0e3"
        f" + 0.5e0) as bigint)"
    )
    return with_fixtures(f"""
        with segs as ({segs}),
        lens as (
            select zone_id, {leg_mm} as leg_mm,
                   ((({leg_mm}) + {step_mm} - 1) {div} {step_mm}) as k
            from segs
        )
        select zone_id,
               cast(count(*) as bigint) as n_segs,
               cast(sum(leg_mm) as bigint) as len_mm,
               cast(sum(greatest(k, 1) - 1) as bigint) as n_inserted
        from lens
        group by zone_id""", d)


# ---------------------------------------------------------------------------
# Spatial QA audit (coverage gaps between the point and polygon layers)
# ---------------------------------------------------------------------------
def _spatial_qa_sql(d: str) -> str:
    """One-row spatial QA audit of the point↔polygon layers — the data
    quality gate a geo ingestion pipeline runs before publishing: points
    covered by no zone (orphans), points in ≥2 zones (overlap ambiguity),
    zones containing no point (empty), plus the layer sizes.  Exact
    integer counts from the same ray-cast predicate the `pip` operator
    gates.

    Scale: at audit scale the predicate join IS the pip cell-pruned join
    (this audit composes its result); counts are map-side-combined."""
    pred = geo.point_in_polygon("p.lat", "p.lon", "z.pos_list", d)
    return with_fixtures(f"""with hits as (
            select p.point_id, z.zone_id
            from geo_points p join geo_polys z on {pred}
        ),
        per_point as (
            select p.point_id, count(h.zone_id) as nz
            from geo_points p
            left join hits h on h.point_id = p.point_id
            group by p.point_id
        ),
        per_zone as (
            select z.zone_id, count(h.point_id) as np
            from geo_polys z
            left join hits h on h.zone_id = z.zone_id
            group by z.zone_id
        )
        select
            cast((select count(*) from geo_points) as bigint) as n_points,
            cast((select count(*) from geo_polys) as bigint) as n_zones,
            cast((select count(*) from per_point where nz = 0) as bigint)
                as n_orphan_points,
            cast((select count(*) from per_point where nz >= 2) as bigint)
                as n_ambiguous_points,
            cast((select count(*) from per_zone where np = 0) as bigint)
                as n_empty_zones,
            cast((select count(*) from hits) as bigint) as n_assignments""", d)


_FS_RES = 13
_FS_K = 3  # facilities to place
_FS_RADIUS_M = 2000.0


def _fs_base_sql(d: str) -> str:
    """CTE chain ending in ``cover(cx, cy, point_id)``: candidate sites
    are the occupied res-13 cells; a point is covered by a site whose
    CELL CENTER lies within 2 km (equirect, mm²-quantized compare).
    Candidate pairs prune by the ±1-cell band (cell size ≈ 2.5 km ≥ R,
    so the 9-offset neighborhood is a complete cover — the D8 constant
    fan-out shape, no cross product)."""
    n = 2**_FS_RES
    ix, iy = geo.quad_ixy("lat", "lon", _FS_RES, d)
    clat = f"(-90.0e0 + (cast(c.cy as double) + 0.5e0) * {180.0 / n!r}e0)"
    clon = f"(-180.0e0 + (cast(c.cx as double) + 0.5e0) * {360.0 / n!r}e0)"
    dy = f"((p.lat - {clat}) * {_M_PER_DEG!r}e0)"
    dx = f"((p.lon - {clon}) * {_M_PER_DEG * COSLAT0!r}e0)"
    d2_mm2 = (
        f"cast(floor(({dx} * {dx} + {dy} * {dy}) * 1.0e6 + 0.5e0) as bigint)"
    )
    r2_mm2 = int(_FS_RADIUS_M * _FS_RADIUS_M * 1.0e6)
    offs = " union all ".join(
        f"select {ox} as ox, {oy} as oy"
        for ox in (-1, 0, 1)
        for oy in (-1, 0, 1)
    )
    return f"""pts as (
            select point_id, lat, lon, {ix} as px, {iy} as py
            from geo_points
        ),
        cand as (select distinct px as cx, py as cy from pts),
        offs as ({offs}),
        cover as (
            select c.cx, c.cy, p.point_id
            from cand c
            join offs o on 1 = 1
            join pts p on p.px = c.cx + o.ox and p.py = c.cy + o.oy
            where {d2_mm2} <= {r2_mm2}
        )"""


def _fs_round(t: int) -> list[tuple[str, str]]:
    """One greedy round: coverage counted over the still-uncovered points,
    the argmax site by (count desc, cx, cy), the covered set grown."""
    return [
        (f"__fs_gain{t}", f"""
            select c.cx, c.cy, cast(count(*) as bigint) as g
            from __fs_cover c
            where not exists (select 1 from __fs_cov{t} z
                              where z.point_id = c.point_id)
            group by c.cx, c.cy"""),
        (f"__fs_pick{t}", f"""
            select cx, cy, g from (
                select cx, cy, g, row_number() over (
                    order by g desc, cx asc, cy asc) as rn
                from __fs_gain{t}
            ) s where rn = 1"""),
        (f"__fs_cov{t + 1}", f"""
            select point_id from __fs_cov{t}
            union
            select c.point_id from __fs_cover c
            join __fs_pick{t} p on p.cx = c.cx and p.cy = c.cy"""),
    ]


def _facility_select_stages(d: str):
    """(rank, cx, cy, n_new, n_total): greedy maximal-covering facility
    placement — k=3 sites from the occupied-cell candidate set, each
    round picking the site covering the most still-uncovered points
    (ties by coordinates), the 1−1/e-approximate classic under every
    coverage-planning deployment.

    Scale: the cover relation builds ONCE (constant 9-offset band join —
    complete since cell ≥ radius) and persists across rounds; each round
    is one anti-join + one map-side-combined count + a candidate-sized
    argmax — k rounds, each a stage."""
    sel = " union all ".join(
        f"select cast({t + 1} as bigint) as rank, cast(cx as bigint) as cx, "
        f"cast(cy as bigint) as cy, g as n_new, "
        f"(select cast(count(*) as bigint) from __fs_cov{t + 1}) as n_total "
        f"from __fs_pick{t}"
        for t in range(_FS_K)
    )
    return [
        ("__fs_cover", with_fixtures(
            f"with {_fs_base_sql(d)} select cx, cy, point_id from cover", d
        )),
        ("__fs_cov0", "select cast(point_id as bigint) as point_id from __fs_cover where 1 = 0"),
        *(stage for t in range(_FS_K) for stage in _fs_round(t)),
    ], sel


_LQ_RES = 9


def _cell_type_sql(d: str) -> str:
    """(cell, event_type, n) counts of events per res-9 cell — events
    carry no coordinates, so each is placed by the same event fixes the
    trips query reads (``event_fixes_sql(d, 'tr')``)."""
    ix, iy = geo.quad_ixy("lat", "lon", _LQ_RES, d)
    cell = geo.quad_pack(ix, iy, _LQ_RES)
    return (
        f"select {cell} as cell, event_type, "
        f"cast(count(*) as bigint) as n from ({event_fixes_sql(d, 'tr')}) fx "
        f"group by {cell}, event_type"
    )


def _lq_sql(d: str) -> str:
    """Location quotient per (cell, type): the cell's type share over the
    global type share — LQ > 1 marks local specialization, the
    regional-science statistic under every industry-cluster map.  The
    ratio is exact integers cross-multiplied ((n·T_cell⁻¹)/(N_t·T⁻¹) =
    n·T / (T_cell·N_t)); the >1 flag is an integer compare, the reported
    LQ one rounded division.

    Scale: one (cell, type) aggregate + two broadcast marginal tables —
    corpus crosses one shuffle."""
    return f"""
        with ct as ({_cell_type_sql(d)}),
        cm as (select cell, cast(sum(n) as bigint) as t_cell
               from ct group by cell),
        tm as (select event_type, cast(sum(n) as bigint) as n_t
               from ct group by event_type),
        tot as (select cast(sum(n) as bigint) as t from ct)
        select c.cell, c.event_type, c.n,
               round(cast(c.n as double) * cast(x.t as double)
                     / (cast(m.t_cell as double) * cast(g.n_t as double)),
                     9) as lq,
               cast(case when c.n * x.t > m.t_cell * g.n_t
                    then 1 else 0 end as bigint) as specialized
        from ct c
        join cm m on m.cell = c.cell
        join tm g on g.event_type = c.event_type
        cross join tot x"""


def _beta_sql(d: str) -> str:
    """Whittaker beta diversity of event types across cells — γ/ᾱ, the
    landscape-to-local diversity ratio (β near 1 = every cell sees every
    type, β near n_cells = complete turnover).  γ and the α sum are
    exact integer distinct-counts; β and ᾱ are one rounded division
    each.

    Scale: one (cell, type) distinct aggregate + two scalar folds."""
    return f"""
        with ct as ({_cell_type_sql(d)}),
        alpha as (
            select cell, cast(count(*) as bigint) as a
            from (select distinct cell, event_type from ct) s
            group by cell
        ),
        g as (select cast(count(distinct event_type) as bigint) as gamma
              from ct)
        select cast(count(*) as bigint) as n_cells,
               cast(max(g.gamma) as bigint) as gamma,
               cast(sum(a.a) as bigint) as alpha_sum,
               round(cast(sum(a.a) as double) / cast(count(*) as double), 9)
                   as alpha_mean,
               round(cast(max(g.gamma) as double)
                     / (cast(sum(a.a) as double) / cast(count(*) as double)),
                     9) as beta_w
        from alpha a cross join g"""


QUERIES = {
    "tile_assign": (q_tile_assign, q_tile_assign_oracle),
    "polyfill": (q_polyfill, q_polyfill_oracle),
    "kring": sql_query(_kring_sql),
    "pip": (q_pip, q_pip_oracle),
    "pip_celljoin": (q_pip_celljoin, q_pip_oracle),
    "knn": (q_knn, q_knn_oracle),
    "assemble_poslist": (q_assemble, q_assemble_oracle),
    "zone_mapping": (q_zone_mapping, q_zone_mapping_oracle),
    "polyfill_refined": (q_polyfill_refined, q_polyfill_refined_oracle),
    "cell_rollup": sql_query(_cell_rollup_sql),
    "zone_stats": sql_query(_zone_stats_sql),
    "radius_join": (q_radius_join, q_radius_join_oracle),
    "zorder_key": sql_query(_zorder_key_sql),
    "poly_overlap": (q_poly_overlap, q_poly_overlap_oracle),
    "cover_compact": (q_cover_compact, q_cover_compact_oracle),
    "snap_join": (q_snap_join, q_snap_join_oracle),
    "geohash": sql_query(_geohash_sql),
    "adaptive_cells": (q_adaptive_cells, q_adaptive_cells_oracle),
    "idw": (q_idw, q_idw_oracle),
    "simplify": (q_simplify, q_simplify_oracle),
    "line_intersect": (q_line_intersect, q_line_intersect_oracle),
    "smooth_density": (q_smooth_density, q_smooth_density_oracle),
    "dbscan": (q_dbscan, q_dbscan_oracle),
    "grid_bfs": (q_grid_bfs, q_grid_bfs_oracle),
    "label_point": (q_label_point, q_label_point_oracle),
    "pip_best": (q_pip_best, q_pip_best_oracle),
    "decayed_density": sql_query(_decayed_density_sql),
    "corridor_join": (q_corridor_join, q_corridor_join_oracle),
    "hull": (q_hull, q_hull_oracle),
    "hilbert_key": sql_query(_hilbert_key_sql),
    "hotspot": (q_hotspot, q_hotspot_oracle),
    "dissolve": (q_dissolve, q_dissolve_oracle),
    "moran": (q_moran, q_moran_oracle),
    "mk_trend": (q_mk_trend, q_mk_trend_oracle),
    "ripley_k": (q_ripley, q_ripley_oracle),
    "pyramid": (q_pyramid, q_pyramid_oracle),
    "zone_stats_sph": (q_zone_stats_sph, q_zone_stats_sph_oracle),
    "ring_validity": (q_ring_validity, q_ring_validity_oracle),
    "ring_repair": (q_ring_repair, q_ring_repair_oracle),
    "cell_boundary": (q_cell_boundary, q_cell_boundary_oracle),
    "tile_cut": (q_tile_cut, q_tile_cut_oracle),
    "contour": (q_contour, q_contour_oracle),
    "service_area": (q_service_area, q_service_area_oracle),
    "locate_along": sql_query(_locate_along_sql),
    "g_function": (q_g_function, q_g_function_oracle),
    "zorder_ranges": sql_query(_zorder_ranges_sql),
    "cell_entropy": sql_query(_cell_entropy_sql),
    "skew_report": sql_query(_skew_report_sql),
    "linear_ref": (q_linear_ref, q_linear_ref_oracle),
    "gearys_c": sql_query(_gearys_c_sql),
    "f_function": sql_query(_f_function_sql),
    "clark_evans": sql_query(_clark_evans_sql),
    "quadrat": sql_query(_quadrat_sql),
    "centrography": sql_query(_centrography_sql),
    "emerging_hotspots": sql_query(_emerging_sql),
    "line_raster": sql_query(_line_raster_sql),
    "polyline_encode": sql_query(_polyline_encode_sql),
    "polyline_roundtrip": sql_query(_polyline_roundtrip_sql),
    "areal_interp": sql_query(_areal_interp_sql),
    "densify": sql_query(_densify_sql),
    "spatial_qa": sql_query(_spatial_qa_sql),
    "facility_select": staged_query(_facility_select_stages),
    "location_quotient": sql_query(_lq_sql),
    "beta_diversity": sql_query(_beta_sql),
}
