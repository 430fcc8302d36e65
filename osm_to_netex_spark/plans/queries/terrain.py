"""Raster, DEM and hydrology queries over the synthesized elevation raster:
zonal statistics, slope and hillshade, D8 flow, stream order and
watersheds, cost surfaces and paths, viewshed, variograms, and the road
lattice on the raster grid split into routing edges.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

from ...functions import geo
from ...functions.portable import DUCK, SPARK, concat_str, flit, phash60
from ...operators import raster
from .corpus import (
    BBOX, COSLAT0, LAT_HI, LAT_LO, LON_HI, LON_LO, _M_PER_DEG, duck_geometry_ctes,
    register_geometry_views,
)


def q_raster_zonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal raster stats at quad res 12 over the derived polygons."""
    register_geometry_views(spark, sf_dir)
    ras = raster.synthesize_raster(spark, res=12, bbox=BBOX)
    polys = spark.table("geo_polys")
    out = raster.zonal_stats(polys, ras, res=12)
    return out.selectExpr(
        "zone_id", "avg_value", "round(min_value, 6) as min_value",
        "round(max_value, 6) as max_value", "n_cells"
    )


def q_raster_zonal_oracle() -> str:
    # inline raster synthesis (mirrors raster.synthesize_raster arithmetic)
    res, n = 12, 2**12
    iy_lo = int((LAT_LO + 90.0) / 180.0 * n)
    iy_hi = int((LAT_HI + 90.0) / 180.0 * n)
    ix_lo = int((LON_LO + 180.0) / 360.0 * n)
    ix_hi = int((LON_HI + 180.0) / 360.0 * n)
    w = ix_hi - ix_lo + 1
    total = (iy_hi - iy_lo + 1) * w
    h = phash60(concat_str(["'42:ras:'", "iy", "':'", "ix"], DUCK), DUCK)
    return f"""{duck_geometry_ctes()},
        raster as (
            select {geo.quad_pack('ix', 'iy', res)} as cell,
                   round(({h} / {flit(float(2**60))}) * 2000.0e0, 3) as value
            from (select ({iy_lo} + i // {w}) as iy, ({ix_lo} + i % {w}) as ix
                  from generate_series(0, {total - 1}) t(i)) g
        ),
        cover as (
            select zone_id, unnest({geo.quad_cover_bbox('pos_list', res, DUCK)}) as cell
            from geo_polys
        )
        select zone_id, round(avg(value), 6) as avg_value, round(min(value), 6) as min_value,
               round(max(value), 6) as max_value, count(*) as n_cells
        from cover join raster using (cell)
        group by zone_id"""


# ---------------------------------------------------------------------------
# Raster slope/gradient + zonal majority (map-algebra extensions)
# ---------------------------------------------------------------------------
def _raster_cte(d: str, res: int = 12, seed: int = 42) -> str:
    """(ix, iy, cell, value) raster CTE — same arithmetic as
    operators.raster.synthesize_raster / the raster_zonal oracle."""
    n = 2**res
    iy_lo = int((LAT_LO + 90.0) / 180.0 * n)
    iy_hi = int((LAT_HI + 90.0) / 180.0 * n)
    ix_lo = int((LON_LO + 180.0) / 360.0 * n)
    ix_hi = int((LON_HI + 180.0) / 360.0 * n)
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
    n = 2**res
    m_per_deg = 111194.92664455873
    cell_y_m = 180.0 / n * m_per_deg
    cell_x_m = 360.0 / n * m_per_deg * COSLAT0
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
    register_geometry_views(spark, sf_dir)
    return spark.sql(f"with {_raster_slope_sql(SPARK)}")


def q_raster_slope_oracle() -> str:
    return f"with {_raster_slope_sql(DUCK)}"


def _zonal_majority_sql(d: str, res: int = 12, band_m: float = 200.0) -> str:
    """Zonal MAJORITY (modal elevation band per polygon) — the categorical
    zonal statistic avg/min/max can't express (land-cover class, dominant
    band); deterministic tie-break (count desc, band asc).

    Scale: cover explode → raster equi-join → (zone, band) map-side-
    combined counts → one zone-partitioned window over the band table."""
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
    register_geometry_views(spark, sf_dir)
    return spark.sql(f"with {_zonal_majority_sql(SPARK)}")


def q_zonal_majority_oracle() -> str:
    return f"{duck_geometry_ctes()}, {_zonal_majority_sql(DUCK)}"


_RES = 12


def _cell_sizes() -> tuple[float, float]:
    n = 2**_RES
    cell_y_m = 180.0 / n * _M_PER_DEG
    cell_x_m = 360.0 / n * _M_PER_DEG * COSLAT0
    return cell_x_m, cell_y_m


# ---------------------------------------------------------------------------
# Hillshade (Horn 1981 gradient + trig-free Lambertian illumination)
# ---------------------------------------------------------------------------
def _hillshade_sql(d: str, azimuth_deg: float = 315.0, altitude_deg: float = 45.0) -> str:
    """Analytical hillshade over the synthesized elevation raster: Horn's
    8-neighbor weighted gradient (the canonical GIS kernel — NOT the
    2-neighbor central difference `raster_slope` uses), then the
    Lambertian dot product of the unit surface normal with the light
    vector.  TRIG-FREE in SQL: sin/cos of azimuth/altitude are
    Python-computed literals, and cos/sin of slope/aspect reduce to
    rational functions of the gradient —
    shade = (sin_alt − cos_alt·sin_az·gx − cos_alt·cos_az·gy) / √(1+g²)
    — so the only transcendental evaluated cross-engine is sqrt
    (correctly rounded by IEEE 754 in both engines).

    Scale: eight equi-joins of the raster with its shifted self on the
    integer lattice key — raster-sized, no corpus involvement, no
    neighborhood explode; interior cells only."""
    cell_x_m, cell_y_m = _cell_sizes()
    az = math.radians(azimuth_deg)
    alt = math.radians(altitude_deg)
    sin_alt, ca_sa = math.sin(alt), math.cos(alt) * math.sin(az)
    ca_ca = math.cos(alt) * math.cos(az)
    shade = f"(({sin_alt!r}e0 - {ca_sa!r}e0 * gx - {ca_ca!r}e0 * gy) / sqrt(1.0e0 + gx * gx + gy * gy))"
    return f"""ras as ({_raster_cte(d, _RES)}),
        grad as (
            select c.ix, c.iy,
                   ((ne.value + 2.0e0 * e.value + se.value)
                    - (nw.value + 2.0e0 * w.value + sw.value))
                       / {8.0 * cell_x_m!r}e0 as gx,
                   ((ne.value + 2.0e0 * nn.value + nw.value)
                    - (se.value + 2.0e0 * s.value + sw.value))
                       / {8.0 * cell_y_m!r}e0 as gy
            from ras c
            join ras e  on e.iy  = c.iy     and e.ix  = c.ix + 1
            join ras w  on w.iy  = c.iy     and w.ix  = c.ix - 1
            join ras nn on nn.ix = c.ix     and nn.iy = c.iy + 1
            join ras s  on s.ix  = c.ix     and s.iy  = c.iy - 1
            join ras ne on ne.ix = c.ix + 1 and ne.iy = c.iy + 1
            join ras nw on nw.ix = c.ix - 1 and nw.iy = c.iy + 1
            join ras se on se.ix = c.ix + 1 and se.iy = c.iy - 1
            join ras sw on sw.ix = c.ix - 1 and sw.iy = c.iy - 1
        )
        select cast(ix as bigint) as ix, cast(iy as bigint) as iy,
               cast(floor(greatest(0.0e0, {shade}) * 1.0e6 + 0.5e0) as bigint)
                   as shade_q6,
               cast(floor(greatest(0.0e0, {shade}) * 255.0e0 + 0.5e0) as bigint)
                   as hs8
        from grad"""


def q_hillshade(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geometry_views(spark, sf_dir)
    return spark.sql(f"with {_hillshade_sql(SPARK)}")


def q_hillshade_oracle() -> str:
    return f"with {_hillshade_sql(DUCK)}"


# ---------------------------------------------------------------------------
# D8 flow direction (steepest-descent drainage pointer)
# ---------------------------------------------------------------------------
def _d8_offsets() -> list[tuple[int, int, int, float]]:
    """(dir, dx, dy, dist_m): ESRI-style D8 numbering 0=E counterclockwise
    is irrelevant here — any FIXED deterministic numbering works; we use
    0=E,1=NE,2=N,3=NW,4=W,5=SW,6=S,7=SE with metric distances."""
    cx, cy = _cell_sizes()
    diag = math.sqrt(cx * cx + cy * cy)
    return [
        (0, 1, 0, cx), (1, 1, 1, diag), (2, 0, 1, cy), (3, -1, 1, diag),
        (4, -1, 0, cx), (5, -1, -1, diag), (6, 0, -1, cy), (7, 1, -1, diag),
    ]


def _flow_dir_sql(d: str) -> str:
    """CTE chain ending in ``fdir(ix, iy, flow_dir, drop_q9)``: per
    interior cell, the D8 steepest-descent direction — argmax over the 8
    neighbors of (elevation drop / metric distance), positive drops only,
    ties broken toward the LOWEST direction index, pits/flats → dir −1.
    The drop rate is quantized to int 1e-9 per neighbor BEFORE the argmax
    so the comparison is exact bigint; the argmax itself is the packed
    integer max(slope_q9·8 + (7−dir)) — one aggregate, no window.

    Scale: the 8-row offset table cross-joins the raster (a broadcast
    nested loop over 8 rows — constant fan-out, the supercover/seg_
    candidates shape), one lattice equi-join to fetch the neighbor, one
    map-side-combined argmax per cell."""
    offsets = " union all ".join(
        f"select {dr} as dir, {dx} as dx, {dy} as dy, {dist!r}e0 as dist_m"
        for dr, dx, dy, dist in _d8_offsets()
    )
    return f"""ras as ({_raster_cte(d, _RES)}),
        offs as ({offsets}),
        nb as (
            select c.ix, c.iy, o.dir,
                   cast(floor((c.value - n.value) / o.dist_m * 1.0e9 + 0.5e0)
                        as bigint) as slope_q9
            from ras c
            join offs o on 1 = 1
            join ras n on n.ix = c.ix + o.dx and n.iy = c.iy + o.dy
        ),
        interior as (
            select ix, iy from nb group by ix, iy having count(*) = 8
        ),
        best as (
            select nb.ix, nb.iy,
                   max(case when slope_q9 > 0
                       then slope_q9 * 8 + (7 - dir) else null end) as packed
            from nb join interior i on i.ix = nb.ix and i.iy = nb.iy
            group by nb.ix, nb.iy
        ),
        fdir as (
            select ix, iy,
                   cast(coalesce(7 - (packed % 8), -1) as bigint) as flow_dir,
                   cast(coalesce(packed, 0) as bigint) as packed_q9
            from best
        )"""


def q_flow_dir(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geometry_views(spark, sf_dir)
    return spark.sql(
        f"with {_flow_dir_sql(SPARK)} "
        f"select cast(ix as bigint) as ix, cast(iy as bigint) as iy, "
        f"flow_dir, packed_q9 from fdir"
    )


def q_flow_dir_oracle() -> str:
    return (
        f"with {_flow_dir_sql(DUCK)} "
        f"select cast(ix as bigint) as ix, cast(iy as bigint) as iy, "
        f"flow_dir, packed_q9 from fdir"
    )


# ---------------------------------------------------------------------------
# D8 flow accumulation (upstream drainage area)
# ---------------------------------------------------------------------------
def _flow_edges_sql(d: str) -> str:
    """Drainage pointers as (src_ix, src_iy, dst_ix, dst_iy) — the
    functional graph each non-pit interior cell contributes one edge to."""
    dx = " ".join(
        f"when {dr} then {ddx}" for dr, ddx, _, _ in _d8_offsets()
    )
    dy = " ".join(
        f"when {dr} then {ddy}" for dr, _, ddy, _ in _d8_offsets()
    )
    return (
        f"select ix as src_ix, iy as src_iy, "
        f"ix + (case flow_dir {dx} end) as dst_ix, "
        f"iy + (case flow_dir {dy} end) as dst_iy "
        f"from fdir where flow_dir >= 0"
    )


_ACCUM_ROUNDS = 8  # covers drainage paths up to 2^8 cells — > any path on
# the bounded test raster; at scale the round count is ⌈log2 L_max⌉ for the
# longest drainage path L_max (SCALE.md row)


def q_flow_accum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(ix, iy, accum): D8 flow accumulation — 1 + the number of upstream
    cells whose drainage path passes through the cell.  The flow graph is
    FUNCTIONAL (out-degree ≤ 1) and strictly descending (acyclic), so the
    ancestor relation is its transitive closure, computed by pointer
    doubling: T₀ = E, T_{i+1} = T_i ∪ (T_i ∘ T_i) — all path lengths up
    to 2^i covered after i rounds, ⌈log₂ L⌉ rounds total (the alternating-
    star / hyperanf round discipline, localCheckpoint-bounded plans).

    Scale: each round is one self-join + distinct keyed on the lattice
    cell; the closure is Θ(Σ path length) rows — the documented cost of
    exact accumulation (same posture class as the exact PPJoin verifiers);
    the raster itself never re-scans after the fdir CTE materializes."""
    register_geometry_views(spark, sf_dir)
    edges = spark.sql(
        f"with {_flow_dir_sql(SPARK)} {_flow_edges_sql(SPARK)}"
    ).localCheckpoint(eager=False)
    edges.createOrReplaceTempView("__fa_t0")
    cur = "__fa_t0"
    for i in range(_ACCUM_ROUNDS):
        nxt = spark.sql(f"""
            select src_ix, src_iy, dst_ix, dst_iy from {cur}
            union
            select a.src_ix, a.src_iy, b.dst_ix, b.dst_iy
            from {cur} a join {cur} b
              on b.src_ix = a.dst_ix and b.src_iy = a.dst_iy
        """).localCheckpoint(eager=False)
        cur = f"__fa_t{i + 1}"
        nxt.createOrReplaceTempView(cur)
    return spark.sql(f"""
        with {_flow_dir_sql(SPARK)},
        anc as (
            select dst_ix as ix, dst_iy as iy,
                   cast(count(*) as bigint) as n_upstream
            from {cur} group by dst_ix, dst_iy
        )
        select cast(f.ix as bigint) as ix, cast(f.iy as bigint) as iy,
               cast(1 + coalesce(a.n_upstream, 0) as bigint) as accum
        from fdir f
        left join anc a on a.ix = f.ix and a.iy = f.iy""")


def q_flow_accum_oracle() -> str:
    """Recursive-CTE walk down the drainage pointers (the closure the
    doubling rounds compute), counted per target cell."""
    return f"""
        with recursive {_flow_dir_sql(DUCK)},
        e as ({_flow_edges_sql(DUCK)}),
        walk(src_ix, src_iy, ix, iy) as (
            select src_ix, src_iy, dst_ix, dst_iy from e
            union
            select w.src_ix, w.src_iy, e.dst_ix, e.dst_iy
            from walk w join e on e.src_ix = w.ix and e.src_iy = w.iy
        ),
        anc as (
            select ix, iy, cast(count(*) as bigint) as n_upstream
            from walk group by ix, iy
        )
        select cast(f.ix as bigint) as ix, cast(f.iy as bigint) as iy,
               cast(1 + coalesce(a.n_upstream, 0) as bigint) as accum
        from fdir f
        left join anc a on a.ix = f.ix and a.iy = f.iy"""


def _grid_bounds() -> tuple[int, int, int, int]:
    n = 2**_RES
    return (
        int((LON_LO + 180.0) / 360.0 * n),
        int((LON_HI + 180.0) / 360.0 * n),
        int((LAT_LO + 90.0) / 180.0 * n),
        int((LAT_HI + 90.0) / 180.0 * n),
    )


def _raster(d: str) -> str:
    return _raster_cte(d, _RES)


# ---------------------------------------------------------------------------
# Viewshed (line-of-sight over the elevation raster)
# ---------------------------------------------------------------------------
_OBS_H = 20.0  # observer mast height above terrain, metres


def _viewshed_sql(d: str) -> str:
    """Per raster cell: is it visible from a fixed observer (the grid's
    center cell + a 20 m mast)?  Exact supercover line-of-sight: the
    blockers tested are exactly the cells the sightline CROSSES (the
    line_raster slab test in index space — parametric t-interval
    intersection against each cell's [j−½, j+½] square), and a target is
    visible iff every such intermediate cell's elevation angle is
    strictly below the target's.  The angle comparison is the
    cross-multiplied form (z_c − z_o)·d_t < (z_t − z_o)·d_c — one
    identical IEEE expression both engines, no trig.

    Scale: candidate blockers explode over the sightline's bbox and the
    slab test prunes to the true supercover — Θ(path) survivors per
    target but Θ(bbox area) candidates, the documented line_raster
    posture; production DEMs sectorize rays per partition (SCALE.md).
    One (target) keyed aggregate closes it."""
    ix_lo, ix_hi, iy_lo, iy_hi = _grid_bounds()
    ox, oy = (ix_lo + ix_hi) // 2, (iy_lo + iy_hi) // 2
    cx_m, cy_m = _cell_sizes()
    # metric distance in index space: hypot of anisotropic steps
    dist = (
        lambda jx, jy: f"sqrt((cast({jx} - {ox} as double) * {cx_m!r}e0)"
        f" * (cast({jx} - {ox} as double) * {cx_m!r}e0)"
        f" + (cast({jy} - {oy} as double) * {cy_m!r}e0)"
        f" * (cast({jy} - {oy} as double) * {cy_m!r}e0))"
    )
    if d == SPARK:
        cand = (
            f"select t.ix, t.iy, t.value, cy, explode(sequence("
            f"least({ox}, t.ix), greatest({ox}, t.ix))) as cx "
            f"from (select ix, iy, value, explode(sequence("
            f"least({oy}, iy), greatest({oy}, iy))) as cy from tgt) t"
        )
    else:
        cand = (
            f"select t.ix, t.iy, t.value, cy.y as cy, cx.x as cx from tgt t, "
            f"unnest(generate_series(least({oy}, t.iy), greatest({oy}, t.iy))) cy(y), "
            f"unnest(generate_series(least({ox}, t.ix), greatest({ox}, t.ix))) cx(x)"
        )
    # slab test for segment (ox,oy)->(ix,iy) vs square [cx±0.5]×[cy±0.5]
    ax, ay = f"cast({ox} as double)", f"cast({oy} as double)"
    bx, by = "cast(b.ix as double)", "cast(b.iy as double)"
    x0 = "(cast(b.cx as double) - 0.5e0)"
    x1 = "(cast(b.cx as double) + 0.5e0)"
    y0 = "(cast(b.cy as double) - 0.5e0)"
    y1 = "(cast(b.cy as double) + 0.5e0)"
    slab = (
        f"case when {bx} = {ax} then ({ax} >= {x0} and {ax} <= {x1}) "
        f"when {by} = {ay} then ({ay} >= {y0} and {ay} <= {y1}) "
        f"else greatest("
        f"least(({x0} - {ax}) / ({bx} - {ax}), ({x1} - {ax}) / ({bx} - {ax})), "
        f"least(({y0} - {ay}) / ({by} - {ay}), ({y1} - {ay}) / ({by} - {ay})), 0.0e0)"
        f" <= least("
        f"greatest(({x0} - {ax}) / ({bx} - {ax}), ({x1} - {ax}) / ({bx} - {ax})), "
        f"greatest(({y0} - {ay}) / ({by} - {ay}), ({y1} - {ay}) / ({by} - {ay})), 1.0e0) end"
    )
    blocked = (
        f"case when (r.value - obs.z) * {dist('b.ix', 'b.iy')}"
        f" >= (b.value - obs.z) * {dist('b.cx', 'b.cy')}"
        f" then 1 else 0 end"
    )
    return f"""ras as ({_raster(d)}),
        obs as (select value + {_OBS_H!r}e0 as z from ras
                where ix = {ox} and iy = {oy}),
        tgt as (select ix, iy, value from ras
                where not (ix = {ox} and iy = {oy})),
        blockers as (
            select b.ix, b.iy, max({blocked}) as any_block,
                   cast(count(*) as bigint) as n_crossed
            from ({cand}) b
            join ras r on r.ix = b.cx and r.iy = b.cy
            cross join obs
            where {slab}
              and not (b.cx = {ox} and b.cy = {oy})
              and not (b.cx = b.ix and b.cy = b.iy)
            group by b.ix, b.iy
        )
        select cast(t.ix as bigint) as ix, cast(t.iy as bigint) as iy,
               cast(1 - coalesce(k.any_block, 0) as bigint) as visible,
               cast(coalesce(k.n_crossed, 0) as bigint) as n_crossed,
               cast(floor((t.value - obs.z) / {dist('t.ix', 't.iy')} * 1.0e9
                    + 0.5e0) as bigint) as angle_q9
        from tgt t
        cross join obs
        left join blockers k on k.ix = t.ix and k.iy = t.iy"""


def q_viewshed(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geometry_views(spark, sf_dir)
    return spark.sql(f"with {_viewshed_sql(SPARK)}")


def q_viewshed_oracle() -> str:
    return f"with {_viewshed_sql(DUCK)}"


# ---------------------------------------------------------------------------
# Cost distance (slope-weighted least-cost-path lengths on the grid)
# ---------------------------------------------------------------------------
_CD_ROUNDS = 20  # ≥ the grid's Chebyshev diameter — every cell settles


def _cd_edges_sql(d: str) -> str:
    """8-neighbor traversal costs: cost_q3 = ⌊(step_m + 10·|Δz|)·10³⌉ —
    distance plus a slope penalty, quantized to integer millimetre-class
    units per edge so every relaxation is exact min-plus bigint."""
    parts = []
    for _, dx, dy, dist_m in _d8_offsets():
        parts.append(
            f"select a.ix as src_ix, a.iy as src_iy, "
            f"b.ix as dst_ix, b.iy as dst_iy, "
            f"cast(floor(({dist_m!r}e0 + 10.0e0 * abs(b.value - a.value))"
            f" * 1.0e3 + 0.5e0) as bigint) as w "
            f"from ras a join ras b on b.ix = a.ix + {dx} and b.iy = a.iy + {dy}"
        )
    return " union all ".join(parts)


def _cd_iter_sql(edges: str, prev: str) -> str:
    return (
        f"select ix, iy, min(cost) as cost from ("
        f"  select ix, iy, cost from {prev}"
        f"  union all"
        f"  select e.dst_ix as ix, e.dst_iy as iy, p.cost + e.w as cost"
        f"  from {edges} e join {prev} p"
        f"    on e.src_ix = p.ix and e.src_iy = p.iy"
        f") group by ix, iy"
    )


_CD_SRC = (
    "select ix, iy, cast(0 as bigint) as cost from ("
    "select ix, iy, row_number() over "
    "(order by value asc, ix asc, iy asc) as rn from ras) r where rn = 1"
)


def q_cost_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(ix, iy, cost_q3): least-cost-path distance from the raster's
    minimum-elevation cell under slope-weighted 8-neighbor traversal —
    the cost-surface primitive under service-area and corridor analyses.
    K synchronous min-plus relaxations with K ≥ the grid's Chebyshev
    diameter settle every cell exactly (Bellman-Ford on a nonnegative
    grid); integer edge weights make every round order-free.

    Scale: the sssp discipline (operators/graph.py:267) — sparse label
    table, one join + one map-side-combined min per round,
    localCheckpoint keeps plans linear in K; the edge table is 8×raster,
    built once."""
    register_geometry_views(spark, sf_dir)
    spark.sql(_raster(SPARK)).localCheckpoint(
        eager=False
    ).createOrReplaceTempView("ras")
    spark.sql(_cd_edges_sql(SPARK)).localCheckpoint(
        eager=False
    ).createOrReplaceTempView("__cd_edges")
    cur = spark.sql(_CD_SRC)
    for t in range(_CD_ROUNDS):
        cur.localCheckpoint(eager=False).createOrReplaceTempView(f"__cd_d{t}")
        cur = spark.sql(_cd_iter_sql("__cd_edges", f"__cd_d{t}"))
    return cur.selectExpr(
        "cast(ix as bigint) as ix",
        "cast(iy as bigint) as iy",
        "cast(cost as bigint) as cost_q3",
    )


def q_cost_distance_oracle() -> str:
    # every s{t} feeds TWO branches of s{t+1} (carry + relax): without a
    # materialization barrier DuckDB's CTE inlining re-evaluates the chain
    # 2^K times — AS MATERIALIZED is the oracle-side localCheckpoint
    ctes = [
        f"ras as materialized ({_raster(DUCK)})",
        f"e0 as materialized ({_cd_edges_sql(DUCK)})",
        f"s0 as materialized ({_CD_SRC})",
    ]
    for t in range(_CD_ROUNDS):
        ctes.append(
            f"s{t + 1} as materialized ({_cd_iter_sql('e0', f's{t}')})"
        )
    return (
        "with " + ", ".join(ctes)
        + f" select cast(ix as bigint) as ix, cast(iy as bigint) as iy, "
        f"cast(cost as bigint) as cost_q3 from s{_CD_ROUNDS}"
    )


# ---------------------------------------------------------------------------
# Way splitting at junctions (routing topology build)
# ---------------------------------------------------------------------------
_WS_H_EVERY = 3  # horizontal way on every 3rd lattice row
_WS_V_EVERY = 4  # vertical way on every 4th lattice column


def _ways_sql(d: str) -> str:
    """(way_id, pos, node_id) rows of the deterministic sparse road
    lattice; node_id packs (ix, iy), way ids disambiguate orientation."""
    ix_lo, ix_hi, iy_lo, iy_hi = _grid_bounds()
    if d == SPARK:
        h = (
            f"select 10000 + iy as way_id, ix - {ix_lo} as pos, "
            f"iy * 100000 + ix as node_id "
            f"from (select explode(sequence({iy_lo}, {iy_hi})) as iy) a, "
            f"(select explode(sequence({ix_lo}, {ix_hi})) as ix) b "
            f"where iy % {_WS_H_EVERY} = 0"
        )
        v = (
            f"select 20000 + ix as way_id, iy - {iy_lo} as pos, "
            f"iy * 100000 + ix as node_id "
            f"from (select explode(sequence({iy_lo}, {iy_hi})) as iy) a, "
            f"(select explode(sequence({ix_lo}, {ix_hi})) as ix) b "
            f"where ix % {_WS_V_EVERY} = 0"
        )
    else:
        h = (
            f"select 10000 + iy as way_id, ix - {ix_lo} as pos, "
            f"iy * 100000 + ix as node_id "
            f"from unnest(generate_series({iy_lo}, {iy_hi})) a(iy), "
            f"unnest(generate_series({ix_lo}, {ix_hi})) b(ix) "
            f"where iy % {_WS_H_EVERY} = 0"
        )
        v = (
            f"select 20000 + ix as way_id, iy - {iy_lo} as pos, "
            f"iy * 100000 + ix as node_id "
            f"from unnest(generate_series({iy_lo}, {iy_hi})) a(iy), "
            f"unnest(generate_series({ix_lo}, {ix_hi})) b(ix) "
            f"where ix % {_WS_V_EVERY} = 0"
        )
    return f"{h} union all {v}"


def _way_split_sql(d: str) -> str:
    """Split every way at junction nodes (nodes on ≥2 ways) into routing
    edges: per way, cut positions are the endpoints plus every junction;
    consecutive cuts bound one edge.  Classic OSM graph-build semantics —
    interior junction nodes terminate one edge and start the next, so
    they appear as both a to_node and the next from_node.

    Scale: one junction aggregate keyed on node_id (map-side-combined;
    the junction set is road-network-sized, broadcastable), one way-keyed
    ordered window for the lead(), one equi-join back for node ids —
    everything partitions by way_id except the node-keyed junction
    count."""
    return f"""
        with ways as ({_ways_sql(d)}),
        junction as (
            select node_id from ways
            group by node_id having count(distinct way_id) >= 2
        ),
        marked as (
            select w.way_id, w.pos, w.node_id,
                   case when j.node_id is not null
                        or w.pos = min(w.pos) over (partition by w.way_id)
                        or w.pos = max(w.pos) over (partition by w.way_id)
                   then 1 else 0 end as cut
            from ways w left join junction j on j.node_id = w.node_id
        ),
        cuts as (
            select way_id, pos, node_id,
                   lead(pos) over (partition by way_id order by pos)
                       as next_pos,
                   lead(node_id) over (partition by way_id order by pos)
                       as next_node,
                   row_number() over (partition by way_id order by pos)
                       as cut_idx
            from marked where cut = 1
        )
        select cast(way_id as bigint) as way_id,
               cast(cut_idx as bigint) as edge_idx,
               cast(node_id as bigint) as from_node,
               cast(next_node as bigint) as to_node,
               cast(next_pos - pos + 1 as bigint) as n_nodes
        from cuts
        where next_pos is not null"""


def q_way_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geometry_views(spark, sf_dir)
    return spark.sql(_way_split_sql(SPARK))


def q_way_split_oracle() -> str:
    return _way_split_sql(DUCK)


# ---------------------------------------------------------------------------
# Local Moran (LISA) cluster labels over the elevation raster
# ---------------------------------------------------------------------------
def _local_moran_sql(d: str) -> str:
    """Anselin's local Moran statistic per raster cell with HH/LL/HL/LH
    quadrant labels — the LISA map under every hotspot cartogram.
    Computed ENTIRELY in scaled integers: elevations are exact 1e-3
    integers, the centered value is z'_i = v_i·n − Σv (exact bigint), the
    row-standardized spatial lag is (Σ_j z'_j) div n_i (one integer
    division of an exact sum), and I'_i = z'_i · lag'_i — no float mean,
    sd, or fold anywhere, so the labels are bit-exact by construction.

    Scale: one global-moment aggregate (broadcast scalar), one 8-neighbor
    lattice equi-join + map-side-combined sum — the raster_slope shape."""
    div = "div" if d == SPARK else "//"
    nb = " union all ".join(
        f"select ix + {dx} as nx, iy + {dy} as ny, ix, iy from ras"
        for _, dx, dy, _ in _d8_offsets()
    )
    return f"""
        with ras0 as ({_raster(d)}),
        ras as (
            select ix, iy,
                   cast(floor(value * 1.0e3 + 0.5e0) as bigint) as v_q3
            from ras0
        ),
        mom as (
            select cast(count(*) as bigint) as n,
                   cast(sum(v_q3) as bigint) as s
            from ras
        ),
        ctr as (
            select ix, iy, v_q3 * (select n from mom) - (select s from mom)
                       as z_scaled
            from ras
        ),
        nbr as ({nb}),
        lag as (
            select c.ix, c.iy,
                   cast(count(*) as bigint) as n_nb,
                   cast(sum(z.z_scaled) as bigint) as z_sum
            from (select nbr.ix, nbr.iy, nbr.nx, nbr.ny from nbr) c
            join ctr z on z.ix = c.nx and z.iy = c.ny
            group by c.ix, c.iy
        )
        select cast(c.ix as bigint) as ix, cast(c.iy as bigint) as iy,
               c.z_scaled,
               cast(l.z_sum {div} l.n_nb as bigint) as lag_scaled,
               cast(c.z_scaled * (l.z_sum {div} l.n_nb) as bigint)
                   as i_scaled,
               case when c.z_scaled > 0 and l.z_sum > 0 then 'HH'
                    when c.z_scaled < 0 and l.z_sum < 0 then 'LL'
                    when c.z_scaled > 0 and l.z_sum < 0 then 'HL'
                    when c.z_scaled < 0 and l.z_sum > 0 then 'LH'
                    else 'NS' end as quad
        from ctr c
        join lag l on l.ix = c.ix and l.iy = c.iy"""


def q_local_moran(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geometry_views(spark, sf_dir)
    return spark.sql(_local_moran_sql(SPARK))


def q_local_moran_oracle() -> str:
    return _local_moran_sql(DUCK)


_SS_MAX_LAG = 4


def _ring_offsets(h: int) -> list[tuple[int, int]]:
    """The 8h lattice offsets at Chebyshev distance exactly h."""
    out = []
    for dx in range(-h, h + 1):
        for dy in range(-h, h + 1):
            if max(abs(dx), abs(dy)) == h:
                out.append((dx, dy))
    return out


def _spatial_structure_sql(d: str) -> str:
    """Per Chebyshev lag h = 1..4 over the elevation raster: the
    empirical semivariogram γ(h) = ½·mean (z_i − z_j)² and the Moran
    correlogram I(h) = (Σc_i·c_j / n_pairs) / (Σc_i² / n) — how spatial
    dependence decays with distance, the structure function every kriging
    model is fit to.

    Exactness: elevations are exact 1e-3 integers; centering uses the
    truncated integer mean (S div n — deterministic, documented), so the
    pair sums Σ(Δv)², Σc_i·c_j and the variance Σc_i² are exact bigints;
    γ and I are one final float division each, rounded 1e-9.  Directed
    pairs (both orders) keep every ring symmetric.

    Scale: the offset table (8h rows per lag, 80 total) is a constant
    broadcast; pair enumeration is ONE lattice equi-join keyed on the
    shifted cell — the D8/raster_slope shape generalized to rings, no
    cross product; per-lag aggregation map-side-combines."""
    offs = " union all ".join(
        f"select {h} as h, {dx} as dx, {dy} as dy"
        for h in range(1, _SS_MAX_LAG + 1)
        for dx, dy in _ring_offsets(h)
    )
    div = "div" if d == SPARK else "//"
    return f"""
        with ras0 as ({_raster(d)}),
        ras as (
            select ix, iy,
                   cast(floor(value * 1.0e3 + 0.5e0) as bigint) as v_q3
            from ras0
        ),
        mom as (
            select cast(count(*) as bigint) as n,
                   cast(sum(v_q3) as bigint) as s
            from ras
        ),
        ctr as (
            select ix, iy, v_q3,
                   v_q3 - ((select s from mom) {div} (select n from mom))
                       as c
            from ras
        ),
        offs as ({offs}),
        pairs as (
            select o.h,
                   (a.v_q3 - b.v_q3) * (a.v_q3 - b.v_q3) as dsq,
                   a.c * b.c as cc
            from ctr a
            join offs o on 1 = 1
            join ctr b on b.ix = a.ix + o.dx and b.iy = a.iy + o.dy
        ),
        varg as (
            select cast(sum(c * c) as bigint) as scc,
                   cast(count(*) as bigint) as n
            from ctr
        )
        select cast(p.h as bigint) as lag_h,
               cast(count(*) as bigint) as n_pairs,
               cast(sum(p.dsq) as bigint) as sum_dsq,
               cast(sum(p.cc) as bigint) as sum_cc,
               round(cast(sum(p.dsq) as double)
                     / (2.0e0 * cast(count(*) as double)) / 1.0e6, 9)
                   as semivariance,
               round((cast(sum(p.cc) as double) / cast(count(*) as double))
                     / (cast(v.scc as double) / cast(v.n as double)), 9)
                   as moran_i
        from pairs p cross join varg v
        group by p.h, v.scc, v.n"""


def q_spatial_structure(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geometry_views(spark, sf_dir)
    return spark.sql(_spatial_structure_sql(SPARK))


def q_spatial_structure_oracle() -> str:
    return _spatial_structure_sql(DUCK)


# ---------------------------------------------------------------------------
# Strahler stream order (leaf-up settlement rounds)
# ---------------------------------------------------------------------------
_ST_ROUNDS = 24  # ≥ the drainage forest's height on the bounded raster;
# at DEM scale the round count is the basin's longest-path depth


def _st_round_sql(edges: str, prev: str) -> str:
    """One settlement round: nodes whose upstream children are ALL
    ordered receive order max(child) + (≥2 children at that max) — the
    Strahler rule as two grouped joins, no window."""
    return f"""
        select ix, iy, o from {prev}
        union
        select a.ix, a.iy,
               a.mx + (case when c.cmax >= 2 then 1 else 0 end) as o
        from (
            select e.dst_ix as ix, e.dst_iy as iy,
                   count(*) as nc, count(o.o) as no, max(o.o) as mx
            from {edges} e
            left join {prev} o on o.ix = e.src_ix and o.iy = e.src_iy
            group by e.dst_ix, e.dst_iy
        ) a
        join (
            select e.dst_ix as ix, e.dst_iy as iy, o.o, count(*) as cmax
            from {edges} e
            join {prev} o on o.ix = e.src_ix and o.iy = e.src_iy
            group by e.dst_ix, e.dst_iy, o.o
        ) c on c.ix = a.ix and c.iy = a.iy and c.o = a.mx
        where a.nc = a.no
          and not exists (select 1 from {prev} p
                          where p.ix = a.ix and p.iy = a.iy)"""


_ST_LEAVES = (
    "select f.ix, f.iy, cast(1 as bigint) as o from fdir f "
    "where not exists (select 1 from e0 e "
    "where e.dst_ix = f.ix and e.dst_iy = f.iy)"
)


def q_strahler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(ix, iy, strahler_order): Strahler stream order over the D8
    drainage forest — leaves (no upstream cell) are order 1; a cell's
    order is its children's max, +1 when ≥2 children tie at that max.
    K leaf-up settlement rounds (K ≥ forest height) order every cell;
    each round settles exactly the frontier whose children are all
    ordered, so the fixpoint is reached monotonically with pure-integer
    decisions.

    Scale: each round is two grouped equi-joins on the lattice key over
    the (sparse) unsettled frontier — the sssp round discipline with a
    leaf-up direction; localCheckpoint bounds the plan per round."""
    register_geometry_views(spark, sf_dir)
    spark.sql(f"with {_flow_dir_sql(SPARK)} select ix, iy, flow_dir from fdir").localCheckpoint(
        eager=False
    ).createOrReplaceTempView("fdir")
    spark.sql(_flow_edges_sql(SPARK)).localCheckpoint(
        eager=False
    ).createOrReplaceTempView("e0")
    cur = spark.sql(_ST_LEAVES)
    for t in range(_ST_ROUNDS):
        cur.localCheckpoint(eager=False).createOrReplaceTempView(f"__st_{t}")
        cur = spark.sql(_st_round_sql("e0", f"__st_{t}"))
    return cur.selectExpr(
        "cast(ix as bigint) as ix",
        "cast(iy as bigint) as iy",
        "cast(o as bigint) as strahler_order",
    )


def q_strahler_oracle() -> str:
    ctes = [
        f"{_flow_dir_sql(DUCK)}",
        f"e0 as materialized ({_flow_edges_sql(DUCK)})",
        f"s0 as materialized ({_ST_LEAVES})",
    ]
    for t in range(_ST_ROUNDS):
        ctes.append(
            f"s{t + 1} as materialized ({_st_round_sql('e0', f's{t}')})"
        )
    return (
        "with " + ", ".join(ctes)
        + f" select cast(ix as bigint) as ix, cast(iy as bigint) as iy, "
        f"cast(o as bigint) as strahler_order from s{_ST_ROUNDS}"
    )


# ---------------------------------------------------------------------------
# Watershed labeling (terminal-sink root via pointer doubling)
# ---------------------------------------------------------------------------
_WS_ROUNDS = 8  # 2^8 ≥ any drainage path on the bounded raster


def _ws_round_sql(prev: str) -> str:
    # pointer doubling on a functional graph: root pointers jump 2^t steps
    return f"""
        select a.ix, a.iy,
               coalesce(b.rx, a.rx) as rx, coalesce(b.ry, a.ry) as ry
        from {prev} a
        left join {prev} b on b.ix = a.rx and b.iy = a.ry"""


def q_watershed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(ix, iy, basin_ix, basin_iy): the terminal sink (pit or raster
    edge) each cell drains to — watershed delineation of the D8 forest.
    Pointer doubling: each round the root pointer jumps twice as far, so
    ⌈log₂ L⌉ rounds resolve every cell to its basin terminal; cells whose
    pointer already rests on a terminal (no outgoing edge) keep it via
    the left-join coalesce.

    Scale: one self-equi-join per round on the lattice key — O(n) rows
    per round, log rounds total, localCheckpoint-bounded: the watershed
    transform at DEM scale without any per-path walk."""
    register_geometry_views(spark, sf_dir)
    spark.sql(f"with {_flow_dir_sql(SPARK)} select ix, iy, flow_dir from fdir").localCheckpoint(
        eager=False
    ).createOrReplaceTempView("fdir")
    edges = spark.sql(_flow_edges_sql(SPARK)).localCheckpoint(eager=False)
    edges.createOrReplaceTempView("__ws_e")
    cur = spark.sql("""
        select f.ix, f.iy,
               coalesce(e.dst_ix, f.ix) as rx, coalesce(e.dst_iy, f.iy) as ry
        from fdir f
        left join __ws_e e on e.src_ix = f.ix and e.src_iy = f.iy""")
    for t in range(_WS_ROUNDS):
        cur.localCheckpoint(eager=False).createOrReplaceTempView(f"__ws_{t}")
        cur = spark.sql(_ws_round_sql(f"__ws_{t}"))
    return cur.selectExpr(
        "cast(ix as bigint) as ix",
        "cast(iy as bigint) as iy",
        "cast(rx as bigint) as basin_ix",
        "cast(ry as bigint) as basin_iy",
    )


def q_watershed_oracle() -> str:
    """Recursive-CTE walk down each cell's drainage pointers to the
    terminal — the closure the doubling rounds compute."""
    return f"""
        with recursive {_flow_dir_sql(DUCK)},
        e as materialized ({_flow_edges_sql(DUCK)}),
        walk(ix, iy, cx, cy) as (
            select f.ix, f.iy, f.ix, f.iy from fdir f
            union all
            select w.ix, w.iy, e.dst_ix, e.dst_iy
            from walk w join e on e.src_ix = w.cx and e.src_iy = w.cy
        ),
        term as (
            select w.ix, w.iy, w.cx, w.cy from walk w
            where not exists (select 1 from e
                              where e.src_ix = w.cx and e.src_iy = w.cy)
        )
        select cast(ix as bigint) as ix, cast(iy as bigint) as iy,
               cast(cx as bigint) as basin_ix, cast(cy as bigint) as basin_iy
        from term"""


# ---------------------------------------------------------------------------
# Terrain ruggedness + topographic position (Riley 1999 / Weiss 2001)
# ---------------------------------------------------------------------------
def _terrain_sql(d: str) -> str:
    """Per interior raster cell: TRI (root-sum-square of the 8 neighbor
    elevation differences, Riley et al. 1999) and TPI (cell minus
    neighbor mean, Weiss 2001) with the standard slope-position class
    (ridge / upper / flat / lower / valley at ±100 m and ±500 m TPI cuts — scaled to this synthetic raster's noise amplitude; real DEMs use ±1/±5 m).
    Elevations are exact 1e-3 integers; the neighbor sum/sum-of-squares
    fold as exact bigints; TRI's sqrt and TPI's mean are one float step
    each; the class cut is made on the exact integer TPI numerator
    (v·8 − Σnb vs ±cut·8) so classification never touches a float.

    Scale: the 8-offset lattice equi-join (D8 shape) + one cell-keyed
    map-side-combined aggregate — raster-sized, corpus-free."""
    nb = " union all ".join(
        f"select ix + {dx} as nx, iy + {dy} as ny, ix, iy from ras"
        for _, dx, dy, _ in _d8_offsets()
    )
    # TPI numerator in 1e-3 units scaled by 8: v_q3*8 - sum(nb); class
    # cuts at ±100 m and ±500 m → ±800000 and ±4000000 in scaled units
    return f"""
        with ras0 as ({_raster(d)}),
        ras as (
            select ix, iy,
                   cast(floor(value * 1.0e3 + 0.5e0) as bigint) as v_q3
            from ras0
        ),
        nbr as ({nb}),
        agg as (
            select n.ix, n.iy,
                   cast(count(*) as bigint) as n_nb,
                   cast(sum(z.v_q3) as bigint) as s_nb,
                   cast(sum((c.v_q3 - z.v_q3) * (c.v_q3 - z.v_q3)) as bigint)
                       as ssq
            from nbr n
            join ras z on z.ix = n.nx and z.iy = n.ny
            join ras c on c.ix = n.ix and c.iy = n.iy
            group by n.ix, n.iy
            having count(*) = 8
        )
        select cast(a.ix as bigint) as ix, cast(a.iy as bigint) as iy,
               round(sqrt(cast(a.ssq as double)) / 1.0e3, 9) as tri_m,
               round((cast(c.v_q3 * 8 - a.s_nb as double) / 8.0e0) / 1.0e3,
                     9) as tpi_m,
               case when c.v_q3 * 8 - a.s_nb > 4000000 then 'ridge'
                    when c.v_q3 * 8 - a.s_nb > 800000 then 'upper'
                    when c.v_q3 * 8 - a.s_nb >= -800000 then 'flat'
                    when c.v_q3 * 8 - a.s_nb >= -4000000 then 'lower'
                    else 'valley' end as slope_position
        from agg a
        join ras c on c.ix = a.ix and c.iy = a.iy"""


def q_terrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geometry_views(spark, sf_dir)
    return spark.sql(_terrain_sql(SPARK))


def q_terrain_oracle() -> str:
    return _terrain_sql(DUCK)


# ---------------------------------------------------------------------------
# Edge elevation profiles (way_split edges × elevation raster)
# ---------------------------------------------------------------------------
def _edge_profiles_sql(d: str) -> str:
    """Elevation profile per routing edge: the way_split edges (road
    lattice between junctions) sample the elevation raster at every node
    they traverse, yielding per-edge start/end/min/max elevation, total
    climb, and the grade — the raster↔vector overlay that prices road
    segments for routing (the north star's "elevation overlays" made
    concrete, composing two gated operators).

    Exactness: elevations are exact 1e-3 integers; the climb is a sum of
    positive consecutive differences folded per edge over the integer
    node order; the grade is one float division of exact operands.

    Scale: the way_split machinery (junction aggregate + way window) +
    ONE lattice equi-join of way nodes against the raster + an
    edge-keyed map-side-combined aggregate; the raster join is keyed on
    the packed node id — no geometry math at all."""
    # node_id packs iy*100000+ix; unpack to join the raster
    div = "div" if d == SPARK else "//"
    split_body = _way_split_sql(d).split("with ", 1)[1]
    return f"""
        with ras0 as ({_raster(d)}),
        ras as (
            select iy * 100000 + ix as node_id,
                   cast(floor(value * 1.0e3 + 0.5e0) as bigint) as z_q3
            from ras0
        ),
        {split_body.rsplit("select cast(way_id", 1)[0].rstrip()},
        edges as (
            select way_id,
                   cast(cut_idx as bigint) as edge_idx,
                   pos as pos_from, next_pos as pos_to
            from cuts where next_pos is not null
        ),
        nodez as (
            select w.way_id, w.pos, r.z_q3,
                   lag(r.z_q3) over (partition by w.way_id order by w.pos)
                       as prev_z
            from ways w join ras r on r.node_id = w.node_id
        ),
        seg as (
            select e.way_id, e.edge_idx, n.pos, n.z_q3,
                   case when n.pos > e.pos_from and n.prev_z is not null
                        and n.z_q3 > n.prev_z
                   then n.z_q3 - n.prev_z else 0 end as climb
            from edges e
            join nodez n on n.way_id = e.way_id
                 and n.pos >= e.pos_from and n.pos <= e.pos_to
        )
        select way_id, edge_idx,
               cast(count(*) as bigint) as n_nodes,
               cast(min(z_q3) as bigint) as z_min_q3,
               cast(max(z_q3) as bigint) as z_max_q3,
               cast(sum(climb) as bigint) as climb_q3,
               round(cast(max(z_q3) - min(z_q3) as double)
                     / (1000.0e0 * cast(count(*) - 1 as double)), 9)
                   as relief_per_step
        from seg
        group by way_id, edge_idx"""


def q_edge_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geometry_views(spark, sf_dir)
    return spark.sql(_edge_profiles_sql(SPARK))


def q_edge_profiles_oracle() -> str:
    return _edge_profiles_sql(DUCK)


# ---------------------------------------------------------------------------
# Least-cost path (predecessor tree + ancestor chain of the hardest cell)
# ---------------------------------------------------------------------------
_LCP_ROUNDS = 8  # doubling: 2^8 ≥ any path length on the bounded raster


def _lcp_pred_sql(d: str) -> str:
    """CTE chain ending in ``pred(ix, iy, p_ix, p_iy, cost)``: the
    shortest-path-tree predecessor of every non-source cell — the
    neighbor n minimizing cost(n) + w(n→c), ties broken by (cost, ix,
    iy) through one packed-bigint min (no nondeterministic arg_min)."""
    mat = " materialized" if d == DUCK else ""
    ctes = [
        f"ras as{mat} ({_raster(d)})",
        f"e0 as{mat} ({_cd_edges_sql(d)})",
        f"s0 as{mat} ({_CD_SRC})",
    ]
    for t in range(_CD_ROUNDS):
        ctes.append(f"s{t + 1} as{mat} ({_cd_iter_sql('e0', f's{t}')})")
    fin = f"s{_CD_ROUNDS}"
    # packed argmin: cand_cost·1e10 + src_ix·1e5 + src_iy (all positive,
    # cand_cost ≤ ~1e9 ⇒ packed ≤ 1e19?  no: cost ≤ 6e8 ⇒ ≤ 6.1e18, safe)
    ctes.append(f"""cand as{mat} (
            select e.dst_ix as ix, e.dst_iy as iy,
                   (p.cost + e.w) * 10000000000 + e.src_ix * 100000
                       + e.src_iy as packed
            from e0 e join {fin} p on p.ix = e.src_ix and p.iy = e.src_iy
        )""")
    idiv = "div" if d == SPARK else "//"
    ctes.append(f"""pred as{mat} (
            select c.ix, c.iy,
                   cast((min(c.packed) % 10000000000) {idiv} 100000
                        as bigint) as p_ix,
                   cast((min(c.packed) % 100000) as bigint) as p_iy,
                   s.cost
            from cand c
            join {fin} s on s.ix = c.ix and s.iy = c.iy
            where not (c.ix = (select ix from s0) and c.iy = (select iy from s0))
            group by c.ix, c.iy, s.cost
        )""")
    return ", ".join(ctes)


def _lcp_target_sql() -> str:
    # the hardest-to-reach cell, ties by coordinates
    return (
        "select ix, iy from (select ix, iy, row_number() over "
        "(order by cost desc, ix asc, iy asc) as rn from pred) t "
        "where rn = 1"
    )


def q_lcp_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(ix, iy, cost_q3, step): the least-cost PATH from the cost
    surface's source to its hardest-to-reach cell — the corridor the
    `cost_distance` surface implies, reconstructed from the
    shortest-path-tree predecessor pointers (packed-integer argmin, so
    the tree is deterministic), then the target's ancestor chain resolved
    by pointer doubling in ⌈log₂ L⌉ rounds (the watershed machinery —
    no per-step walk).  Steps number 0..L along the path by cost order
    (edge weights are strictly positive, so cost is strictly increasing
    along the chain).

    Scale: the cost rounds run iteratively with localCheckpoint barriers
    (the cost_distance discipline — a single SQL text would let Catalyst
    re-inline the K-round chain 2^K times); the predecessor table is one
    grouped argmin over the edge relation; the chain resolves in log
    rounds of lattice self-joins."""
    register_geometry_views(spark, sf_dir)
    spark.sql(_raster(SPARK)).localCheckpoint(
        eager=False
    ).createOrReplaceTempView("ras")
    spark.sql(_cd_edges_sql(SPARK)).localCheckpoint(
        eager=False
    ).createOrReplaceTempView("__lcp_e0")
    spark.sql(_CD_SRC.replace("from ras", "from ras")).localCheckpoint(
        eager=False
    ).createOrReplaceTempView("__lcp_src")
    cur = spark.table("__lcp_src")
    for t in range(_CD_ROUNDS):
        cur.localCheckpoint(eager=False).createOrReplaceTempView(
            f"__lcp_s{t}"
        )
        cur = spark.sql(_cd_iter_sql("__lcp_e0", f"__lcp_s{t}"))
    cur.localCheckpoint(eager=False).createOrReplaceTempView("__lcp_cost")
    spark.sql("""
        select c.ix, c.iy,
               cast((min(c.packed) % 10000000000) div 100000 as bigint)
                   as p_ix,
               cast((min(c.packed) % 100000) as bigint) as p_iy,
               s.cost
        from (
            select e.dst_ix as ix, e.dst_iy as iy,
                   (p.cost + e.w) * 10000000000 + e.src_ix * 100000
                       + e.src_iy as packed
            from __lcp_e0 e
            join __lcp_cost p on p.ix = e.src_ix and p.iy = e.src_iy
        ) c
        join __lcp_cost s on s.ix = c.ix and s.iy = c.iy
        where not exists (select 1 from __lcp_src z
                          where z.ix = c.ix and z.iy = c.iy)
        group by c.ix, c.iy, s.cost""").localCheckpoint(
        eager=False
    ).createOrReplaceTempView("__lcp_pred")
    spark.sql(
        "select ix, iy from (select ix, iy, row_number() over "
        "(order by cost desc, ix asc, iy asc) as rn from __lcp_pred) t "
        "where rn = 1"
    ).localCheckpoint(eager=False).createOrReplaceTempView("__lcp_tgt")
    # ancestor closure of the predecessor forest by pointer DOUBLING
    # (T_{i+1} = T_i ∪ T_i∘T_i — all ancestor pairs after ⌈log₂ L⌉
    # rounds, the flow_accum machinery), then the target's chain
    cur = spark.sql(
        "select ix as cx, iy as cy, p_ix as ax, p_iy as ay from __lcp_pred"
    )
    for t in range(_LCP_ROUNDS):
        cur.localCheckpoint(eager=False).createOrReplaceTempView(
            f"__lcp_{t}"
        )
        cur = spark.sql(f"""
            select cx, cy, ax, ay from __lcp_{t}
            union
            select a.cx, a.cy, b.ax, b.ay
            from __lcp_{t} a
            join __lcp_{t} b on b.cx = a.ax and b.cy = a.ay""")
    cur.localCheckpoint(eager=False).createOrReplaceTempView("__lcp_anc")
    return spark.sql("""
        with onpath as (
            select t.ix, t.iy from __lcp_tgt t
            union
            select a.ax as ix, a.ay as iy
            from __lcp_anc a
            join __lcp_tgt t on t.ix = a.cx and t.iy = a.cy
        ),
        costs as (
            select o.ix, o.iy, coalesce(p.cost, 0) as cost
            from onpath o
            left join __lcp_pred p on p.ix = o.ix and p.iy = o.iy
        )
        select cast(ix as bigint) as ix, cast(iy as bigint) as iy,
               cast(cost as bigint) as cost_q3,
               cast(row_number() over (order by cost asc, ix asc, iy asc)
                    - 1 as bigint) as step
        from costs""")


def q_lcp_path_oracle() -> str:
    return f"""
        with recursive {_lcp_pred_sql(DUCK)},
        tgt as ({_lcp_target_sql()}),
        chain(ix, iy) as (
            select ix, iy from tgt
            union all
            select p.p_ix, p.p_iy
            from chain c join pred p on p.ix = c.ix and p.iy = c.iy
        ),
        onpath as (select distinct ix, iy from chain),
        costs as (
            select o.ix, o.iy, coalesce(p.cost, 0) as cost
            from onpath o
            left join pred p on p.ix = o.ix and p.iy = o.iy
        )
        select cast(ix as bigint) as ix, cast(iy as bigint) as iy,
               cast(cost as bigint) as cost_q3,
               cast(row_number() over (order by cost asc, ix asc, iy asc)
                    - 1 as bigint) as step
        from costs"""


# ---------------------------------------------------------------------------
# Variogram anisotropy (directional semivariance, the kriging input)
# ---------------------------------------------------------------------------
_AN_MAX_LAG = 3


def _anisotropy_sql(d: str) -> str:
    """Directional empirical semivariogram over the elevation raster:
    γ(h) split by axis class (EW / NS / diagonal) per Chebyshev lag 1–3 —
    the anisotropy check a kriging fit runs before assuming an isotropic
    model (directional structure means the variogram needs an
    anisotropy ratio).  Pair sums are exact bigints of 1e-3-quantized
    elevations; γ is one float division, rounded 1e-9.

    Scale: the ring-offset broadcast × one lattice equi-join
    (spatial_structure shape) with the direction class precomputed per
    offset row; per-(lag, class) aggregation map-side-combines."""
    offs = []
    for h in range(1, _AN_MAX_LAG + 1):
        for dx in range(-h, h + 1):
            for dy in range(-h, h + 1):
                if max(abs(dx), abs(dy)) != h:
                    continue
                klass = (
                    "ew" if dy == 0 else "ns" if dx == 0 else "diag"
                )
                offs.append(
                    f"select {h} as h, {dx} as dx, {dy} as dy,"
                    f" '{klass}' as dir_class"
                )
    return f"""
        with ras0 as ({_raster(d)}),
        ras as (
            select ix, iy,
                   cast(floor(value * 1.0e3 + 0.5e0) as bigint) as v_q3
            from ras0
        ),
        offs as ({' union all '.join(offs)}),
        pairs as (
            select o.h, o.dir_class,
                   (a.v_q3 - b.v_q3) * (a.v_q3 - b.v_q3) as dsq
            from ras a
            join offs o on 1 = 1
            join ras b on b.ix = a.ix + o.dx and b.iy = a.iy + o.dy
        )
        select cast(h as bigint) as lag_h, dir_class,
               cast(count(*) as bigint) as n_pairs,
               cast(sum(dsq) as bigint) as sum_dsq,
               round(cast(sum(dsq) as double)
                     / (2.0e0 * cast(count(*) as double)) / 1.0e6, 9)
                   as semivariance
        from pairs
        group by h, dir_class"""


def q_anisotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geometry_views(spark, sf_dir)
    return spark.sql(_anisotropy_sql(SPARK))


def q_anisotropy_oracle() -> str:
    return _anisotropy_sql(DUCK)


QUERIES = {
    "raster_zonal": (q_raster_zonal, q_raster_zonal_oracle),
    "raster_slope": (q_raster_slope, q_raster_slope_oracle),
    "zonal_majority": (q_zonal_majority, q_zonal_majority_oracle),
    "hillshade": (q_hillshade, q_hillshade_oracle),
    "flow_dir": (q_flow_dir, q_flow_dir_oracle),
    "flow_accum": (q_flow_accum, q_flow_accum_oracle),
    "viewshed": (q_viewshed, q_viewshed_oracle),
    "cost_distance": (q_cost_distance, q_cost_distance_oracle),
    "way_split": (q_way_split, q_way_split_oracle),
    "local_moran": (q_local_moran, q_local_moran_oracle),
    "spatial_structure": (q_spatial_structure, q_spatial_structure_oracle),
    "strahler": (q_strahler, q_strahler_oracle),
    "watershed": (q_watershed, q_watershed_oracle),
    "terrain_indices": (q_terrain, q_terrain_oracle),
    "edge_profiles": (q_edge_profiles, q_edge_profiles_oracle),
    "lcp_path": (q_lcp_path, q_lcp_path_oracle),
    "anisotropy": (q_anisotropy, q_anisotropy_oracle),
}
