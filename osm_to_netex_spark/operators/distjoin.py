"""Spatial radius join: all (left, right) point pairs within ``radius_m``.

The missing primitive between PIP (containment) and kNN (nearest): emit every
pair closer than a radius — the geofence / catchment-area / duplicate-POI
workload.  The reference never computes distances at all (SURVEY §2.1); this
is north-rule engine surface like pip.py / knn.py.

Strategy (exact, no quadratic term):

* right side: one quad cell per point at ``res`` — a plain projection;
* left side: per-row DATA-DRIVEN ring — explode the (dx, dy) neighbourhood
  whose extent is derived from the point's own latitude: Δrow from the
  meridian bound ``Δφ ≤ r / M_PER_DEG``, Δcol from the spherical bound
  ``sin(Δλ/2)·√(cosφ₁·cosφ₂) ≤ sin(r/2R)`` with ``cosφ₂`` replaced by its
  minimum over the reachable lat band (proof in ``_lon_halfwidth_deg``).
  Near the equator that is a 3×3 ring; at 60°N a few columns more — fan-out
  grows only where geometry demands it, instead of a global worst-case ring;
* candidates equi-join on the packed cell (shuffle on cell, AQE-splittable;
  ``broadcast_right=True`` for a dimension right side skips the shuffle);
* the exact haversine predicate restores precision — pruning is conservative
  (never drops a true pair), the filter is exact, so the result equals the
  brute-force cross join row-for-row;
* degenerate rows — left points whose column bound exceeds ``max_ring_x``
  (polar caps) or that sit within their own lon bound of the ±180 meridian
  (the grid does not wrap; a cross-antimeridian pair always has its left
  point inside that strip) — fall back to an exact brute pass.  The strip is
  latitude-geometry-driven and empty for any mid-latitude corpus; its cost
  is |fallback_left| × |right| with the (tiny) fallback side broadcast.

Every per-row expression is small (today's cover_cells lesson: staged scalar
columns + explode(sequence), never a mega-HOF), so the plan compiles fast
and stays inside whole-stage codegen.

The segment joins (``seg_candidates``, ``snap_join``, ``corridor_join``,
``line_intersection_join``) filter on segment-bbox cells from
``tiling.quad_bbox_cover``, whose docstring holds their completeness
argument.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window, functions as F

from ..functions import geo
from ..functions.portable import SPARK, flit, haversine_m, let_, round_half
from .tiling import quad_bbox_cover


def _lon_halfwidth_deg(lat_col: str, radius_m: float) -> str:
    """Per-row upper bound (degrees) on |Δlon| of any point within
    ``radius_m`` haversine distance of a point at latitude ``lat_col``.

    From hav(d/R) = hav(Δφ) + cosφ₁·cosφ₂·hav(Δλ) ≥ cosφ₁·cosφ₂·sin²(Δλ/2):
    sin(Δλ/2) ≤ sin(r/2R) / √(cosφ₁·cosφ₂), and cosφ₂ ≥ cos(|φ₁|+r/R·180/π)
    over the reachable band (clamped below 90°).  Monotone conservative: the
    asin argument is clamped to 1 → Δλ ≤ 180° (handled by the fallback cap).
    """
    r_rad = radius_m / geo.EARTH_RADIUS_M
    sin_half = math.sin(r_rad / 2.0)
    r_deg = math.degrees(r_rad)
    phi_hi = f"least(radians(abs({lat_col}) + {flit(r_deg)}), 1.5707e0)"
    c = f"sqrt(cos(radians({lat_col})) * cos({phi_hi}))"
    return f"degrees(2.0e0 * asin(least(1.0e0, {flit(sin_half)} / nullif({c}, 0.0e0))))"


def radius_join(
    left: DataFrame,
    right: DataFrame,
    radius_m: float,
    res: int = 9,
    left_id: str = "point_id",
    right_id: str = "point_id",
    broadcast_right: bool = False,
    max_ring_x: int = 16,
) -> DataFrame:
    """(left_id, right_id, dist_m) for every pair within ``radius_m`` —
    exactly the brute-force cross join's rows.

    ``res`` trades fan-out against candidate density: cell edge ≈ radius is
    the sweet spot (ring stays 3×3); the default res 9 (~0.35° cells) suits
    radii of 10–40 km.  Self-joins: pass the same frame twice and filter
    ``id_a < id_b`` downstream (ids are carried through verbatim).
    """
    cell_h = 180.0 / 2**res
    cell_w = 360.0 / 2**res
    r_deg_lat = radius_m / geo.M_PER_DEG
    ky = int(r_deg_lat / cell_h) + 1

    r = right.select(
        F.col(right_id).alias("rid"),
        F.col("lat").alias("rlat"),
        F.col("lon").alias("rlon"),
        F.expr(geo.quad_cell("lat", "lon", res, SPARK)).alias("__cell"),
    )

    lon_hw = _lon_halfwidth_deg("llat", radius_m)
    n = 2**res
    base = left.select(
        F.col(left_id).alias("lid"),
        F.col("lat").alias("llat"),
        F.col("lon").alias("llon"),
    ).withColumn("__kx", F.expr(f"cast(({lon_hw}) / {flit(cell_w)} as int) + 1"))

    # fallback strip: polar caps (bound wider than max_ring_x columns) and
    # the antimeridian band (grid adjacency cannot wrap; any cross-±180 pair
    # has its left point within its own lon bound of the meridian)
    # coalesce(true): a null bound (exactly-polar point) must land in the
    # fallback, not silently drop out of both branches
    is_fallback = F.expr(
        f"coalesce(__kx > {max_ring_x} OR abs(llon) >= 180.0e0 - ({lon_hw}), true)"
    )
    main = base.where(~is_fallback)
    fb = base.where(is_fallback)

    ix, iy = geo.quad_ixy("llat", "llon", res, SPARK)
    ringed = (
        main.selectExpr(
            "lid", "llat", "llon", "__kx", f"{ix} as __ix", f"{iy} as __iy"
        )
        .selectExpr(
            "lid", "llat", "llon", "__kx", "__ix",
            f"explode(sequence(greatest(__iy - {ky}, 0), least(__iy + {ky}, {n - 1}))) as __cy",
        )
        .selectExpr(
            "lid", "llat", "llon", "__cy",
            f"explode(sequence(greatest(__ix - __kx, 0), least(__ix + __kx, {n - 1}))) as __cx",
        )
        .selectExpr("lid", "llat", "llon", geo.quad_pack("__cx", "__cy", res) + " as __cell")
    )
    r_side = F.broadcast(r) if broadcast_right else r
    dist = haversine_m("llat", "llon", "rlat", "rlon", SPARK)
    cand = ringed.join(r_side, "__cell")

    fb_pairs = F.broadcast(fb.select("lid", "llat", "llon")).crossJoin(r)

    out_main = cand.select("lid", "llat", "llon", "rid", "rlat", "rlon")
    return (
        out_main.unionByName(fb_pairs.select("lid", "llat", "llon", "rid", "rlat", "rlon"))
        .withColumn("dist_m", F.expr(dist))
        .where(F.col("dist_m") <= F.lit(float(radius_m)))
        .select(
            F.col("lid").alias(f"{left_id}_a" if left_id == right_id else left_id),
            F.col("rid").alias(f"{right_id}_b" if left_id == right_id else right_id),
            F.round("dist_m", 6).alias("dist_m"),
        )
    )


def seg_dist_m(plat: str, plon: str, ay: str, ax: str, by: str, bx: str, d: str) -> str:
    """Planar point-to-segment distance in meters, equirectangular projection
    centered on the point's latitude.

    Every operation is +,-,*,/,sqrt,cos — all correctly-rounded IEEE — so the
    value is bit-identical in Spark and DuckDB and safe to ORDER BY.  The
    small-angle planar metric is the right tool for a snap radius of a few
    km (haversine's transcendental chain buys nothing at that scale); the
    candidate prefilter is derived from THIS metric, so prune + exact filter
    is complete with respect to it."""
    k = f"cos(radians({plat}))"
    axp = f"(({ax}) - ({plon})) * {k}"
    bxp = f"(({bx}) - ({plon})) * {k}"
    ayp = f"(({ay}) - ({plat}))"
    byp = f"(({by}) - ({plat}))"
    dx = f"({bxp} - ({axp}))"
    dy = f"({byp} - ({ayp}))"
    len2 = f"({dx}*{dx} + {dy}*{dy})"
    # t = clamp(-(a·(b-a))/|b-a|², 0, 1); degenerate zero-length segment → t=0
    t = f"least(1.0e0, greatest(0.0e0, coalesce((-(({axp})*{dx} + ({ayp})*{dy})) / nullif({len2}, 0.0e0), 0.0e0)))"
    bind = {"t": t, "ax": axp, "ay": ayp, "dx": dx, "dy": dy}
    v = "__sg"
    body = (
        f"sqrt(({v}.ax + {v}.t * {v}.dx) * ({v}.ax + {v}.t * {v}.dx) + "
        f"({v}.ay + {v}.t * {v}.dy) * ({v}.ay + {v}.t * {v}.dy))"
        f" * {flit(geo.M_PER_DEG)}"
    )
    return let_(bind, body, d, var=v)


def seg_candidates(
    points: DataFrame,
    lines: DataFrame,
    radius_m: float,
    res: int = 10,
    id_cols: list[str] | None = None,
    line_id: str = "zone_id",
    pos_list: str = "pos_list",
) -> DataFrame:
    """All (point, segment) pairs within ``radius_m`` of the planar snap
    metric — (``*id_cols``, __lid, seg_idx, __d).  The complete-prefilter
    candidate engine shared by ``snap_join`` (argmin consumer),
    ``corridor_join`` (all pairs) and ``mapmatch.map_match`` (Viterbi
    consumer).

    Shape: segments are exploded ONCE from the packed pos_list, each emitting
    the cells of its bbox padded by the radius (``tiling.quad_bbox_cover``
    says why no true candidate is lost); points carry a single cell, so a
    (point, segment) pair meets in one cell at most.  One equi-join on the
    cell, exact seg_dist_m refine.  No cartesian term anywhere; fan-out is
    segment-bbox cells, bounded for street-scale segments."""
    if id_cols is None:
        id_cols = ["point_id"]
    segs = _segments(lines, line_id, pos_list, "__s")
    seg_cells = _seg_bbox_cells(segs, "__s", res, radius_m / geo.M_PER_DEG)
    pts = points.select(
        *[F.col(c) for c in id_cols],
        F.col("lat").alias("__plat"),
        F.col("lon").alias("__plon"),
        F.expr(geo.quad_cell("lat", "lon", res, SPARK)).alias("__cell"),
    )
    pairs = pts.join(seg_cells, "__cell").drop("__cell")
    # a (point, segment) pair meets in one cell, so the dedup drops no row
    # of distinct inputs; its shuffle keeps the refine out of the cell
    # join's condition, where Catalyst would push it.  At sf0.1 on 4 vCPUs
    # snap_join reads 6.4-7.9 s with it and 12.1-13.1 s without,
    # corridor_join 4.9-6.5 s and 9.3-12.2 s
    pairs = pairs.dropDuplicates([*id_cols, "__s_id", "__s_seg"])
    dist = seg_dist_m("__plat", "__plon", "__sy1", "__sx1", "__sy2", "__sx2", SPARK)
    return (
        pairs.withColumn("__d", F.expr(dist))
        .where(F.col("__d") <= F.lit(float(radius_m)))
        .select(
            *id_cols, F.col("__s_id").alias("__lid"), F.col("__s_seg").alias("seg_idx"), "__d"
        )
    )


def snap_join(
    points: DataFrame,
    lines: DataFrame,
    radius_m: float,
    res: int = 10,
    point_id: str = "point_id",
    line_id: str = "zone_id",
    pos_list: str = "pos_list",
) -> DataFrame:
    """Map-matching-lite: each point snapped to the nearest polyline segment
    within ``radius_m`` — (point_id, line_id, seg_idx, dist_m); points with
    no segment in range are dropped.

    Candidates come from ``seg_candidates`` (padded-bbox cell prefilter +
    exact planar refine), then argmin per point with a (dist, line, seg)
    tiebreak — doubles are bit-identical cross-engine, so the argmin is
    deterministic.

    Pick ``res`` so the cell edge ≈ the snap radius (radius_join's rule):
    coarser cells multiply candidate pairs (every point meets every segment
    sharing its big cell), finer ones multiply per-segment cover fan-out —
    measured at sf0.1: res 10 → 57 s, res 14 → 6.7 s, same rows."""
    cand = seg_candidates(
        points, lines, radius_m, res, [point_id], line_id, pos_list
    )
    # argmin as a lexicographic struct-min: (d, line, seg) compares the
    # bit-identical double first, then the deterministic tiebreak — same row
    # as a window row_number()=1, but it PARTIAL-AGGREGATES (map-side
    # combine), so the shuffle carries one row per point per partition
    # instead of sorting every candidate pair
    agg = cand.groupBy(point_id).agg(
        F.min(F.struct("__d", "__lid", "seg_idx")).alias("__m")
    )
    return agg.select(
        F.col(point_id),
        F.col("__m.__lid").alias(line_id),
        F.col("__m.seg_idx").alias("seg_idx"),
        F.round(F.col("__m.__d"), 6).alias("dist_m"),
    )


# ---------------------------------------------------------------------------
# polyline × polyline intersection join
# ---------------------------------------------------------------------------
def _seg_cross_exprs(prefix_a: str = "a", prefix_b: str = "b") -> tuple[str, str, str]:
    """(predicate, intersect_lat, intersect_lon) SQL for one segment pair —
    plain arithmetic, valid verbatim in BOTH dialects.

    Proper crossing only (strict opposite orientations both ways): collinear
    overlaps and endpoint touches are excluded, the same measure-zero
    convention as geo.segments_cross.  The intersection point comes from the
    parametric solve t = cross(b1-a1, s) / cross(r, s); under the predicate
    the denominator is nonzero, and the op sequence is fixed so the doubles
    are bit-identical cross-engine."""
    a, b = prefix_a, prefix_b
    ax1, ay1, ax2, ay2 = f"{a}x1", f"{a}y1", f"{a}x2", f"{a}y2"
    bx1, by1, bx2, by2 = f"{b}x1", f"{b}y1", f"{b}x2", f"{b}y2"

    def orient(ox, oy, px, py, qx, qy):
        return (
            f"(({px} - {ox}) * ({qy} - {oy}) - ({py} - {oy}) * ({qx} - {ox}))"
        )

    d1 = orient(bx1, by1, bx2, by2, ax1, ay1)
    d2 = orient(bx1, by1, bx2, by2, ax2, ay2)
    d3 = orient(ax1, ay1, ax2, ay2, bx1, by1)
    d4 = orient(ax1, ay1, ax2, ay2, bx2, by2)
    pred = f"(({d1}) * ({d2}) < 0.0e0 AND ({d3}) * ({d4}) < 0.0e0)"
    rx, ry = f"({ax2} - {ax1})", f"({ay2} - {ay1})"
    sx, sy = f"({bx2} - {bx1})", f"({by2} - {by1})"
    denom = f"({rx} * {sy} - {ry} * {sx})"
    t = f"((({bx1} - {ax1}) * {sy} - ({by1} - {ay1}) * {sx}) / {denom})"
    iy = f"({ay1} + {t} * {ry})"
    ix = f"({ax1} + {t} * {rx})"
    return pred, iy, ix


def _segments(lines: DataFrame, line_id: str, pos_list: str, p: str) -> DataFrame:
    """Explode packed pos_list → one row per segment with endpoint columns
    {p}x1/{p}y1/{p}x2/{p}y2 (x=lon, y=lat)."""
    return lines.selectExpr(
        f"{line_id} as {p}_id",
        f"{pos_list} as __pl",
        f"explode(sequence(1, size({pos_list}) div 2 - 1)) as __i",
    ).selectExpr(
        f"{p}_id",
        f"__i as {p}_seg",
        f"element_at(__pl, cast(2*__i - 1 as int)) as {p}y1",
        f"element_at(__pl, cast(2*__i as int)) as {p}x1",
        f"element_at(__pl, cast(2*__i + 1 as int)) as {p}y2",
        f"element_at(__pl, cast(2*__i + 2 as int)) as {p}x2",
    )


def _seg_bbox_cells(segs: DataFrame, p: str, res: int, pad_deg: float = 0.0) -> DataFrame:
    """Cells of each segment's bbox, padded by ``pad_deg`` degrees
    (``tiling.quad_bbox_cover``).  Unpadded, any point ON the segment lies
    in the bbox, so two intersecting segments always share ≥1 cell."""
    return quad_bbox_cover(
        segs,
        [f"{p}_id", f"{p}_seg", f"{p}y1", f"{p}x1", f"{p}y2", f"{p}x2"],
        (
            f"least({p}y1, {p}y2)", f"greatest({p}y1, {p}y2)",
            f"least({p}x1, {p}x2)", f"greatest({p}x1, {p}x2)",
        ),
        res,
        pad_deg,
        "__cell",
    )


def line_intersection_join(
    lines_a: DataFrame,
    lines_b: DataFrame,
    res: int = 12,
    line_id: str = "zone_id",
    pos_list: str = "pos_list",
) -> DataFrame:
    """All properly-crossing segment pairs between two polyline sets, with
    the intersection point — (a_id, a_seg, b_id, b_seg, int_lat, int_lon).

    The road×river / boundary-conflict workload (≈ ST_Intersects on
    linestrings, crossing points materialized).  Shape: both sides explode
    to segments ONCE, each segment emits its bbox cells at ``res`` (a point
    common to two segments lies in both bboxes ⇒ in a shared cell, so the
    prefilter is provably complete); candidates equi-join on the cell and
    dedup on the pair key BEFORE the exact refine, so a pair spanning k
    shared cells is tested once.  No cartesian term; the shuffle key is the
    cell, AQE-splittable when geometry piles into dense cells.  Pick ``res``
    with cell edge ≈ median segment length (snap_join's rule)."""
    a = _seg_bbox_cells(_segments(lines_a, line_id, pos_list, "a"), "a", res)
    b = _seg_bbox_cells(_segments(lines_b, line_id, pos_list, "b"), "b", res)
    pred, iy, ix = _seg_cross_exprs("a", "b")
    cand = (
        a.join(b, "__cell")
        .drop("__cell")
        .dropDuplicates(["a_id", "a_seg", "b_id", "b_seg"])
    )
    return (
        cand.where(F.expr(pred))
        .selectExpr(
            "a_id", "a_seg", "b_id", "b_seg",
            f"round({iy}, 9) as int_lat",
            f"round({ix}, 9) as int_lon",
        )
    )


def line_intersection_oracle_sql(
    lines_a_cte: str,
    lines_b_cte: str,
    line_id: str = "zone_id",
    pos_list: str = "pos_list",
) -> str:
    """DuckDB brute replay: explode both sides, cross join, same predicate
    and the same intersection-point op sequence."""
    pred, iy, ix = _seg_cross_exprs("a", "b")

    def seg(cte: str, p: str) -> str:
        return f"""(
            select {line_id} as {p}_id, t.i as {p}_seg,
                   {pos_list}[2*t.i - 1] as {p}y1, {pos_list}[2*t.i] as {p}x1,
                   {pos_list}[2*t.i + 1] as {p}y2, {pos_list}[2*t.i + 2] as {p}x2
            from {cte}, unnest(generate_series(1, len({pos_list}) // 2 - 1)) t(i)
        )"""

    return f"""
        select a_id, a_seg, b_id, b_seg,
               round({iy}, 9) as int_lat, round({ix}, 9) as int_lon
        from {seg(lines_a_cte, 'a')} a cross join {seg(lines_b_cte, 'b')} b
        where {pred}"""


def corridor_join(
    points: DataFrame,
    lines: DataFrame,
    radius_m: float,
    res: int = 10,
    point_id: str = "point_id",
    line_id: str = "zone_id",
    pos_list: str = "pos_list",
) -> DataFrame:
    """ALL (point, segment) pairs within ``radius_m`` — snap_join without
    the argmin: the corridor / route-buffer workload (every stop within R of
    any segment of a route).  Same provably-complete padded-bbox cell
    prefilter and exact planar metric as ``seg_candidates``; the result is
    the brute cross join's rows, reached through a cell equi-join."""
    return seg_candidates(
        points, lines, radius_m, res, [point_id], line_id, pos_list
    ).select(
        point_id,
        F.col("__lid").alias(line_id),
        "seg_idx",
        F.round("__d", 6).alias("dist_m"),
    )


def seg_t_expr(plat: str, plon: str, ay: str, ax: str, by: str, bx: str, d: str) -> str:
    """Along-segment projection parameter t ∈ [0,1] — the EXACT same op
    sequence as seg_dist_m's internal t (equirect plane centered on the
    point's latitude), exposed for linear referencing."""
    k = f"cos(radians({plat}))"
    axp = f"(({ax}) - ({plon})) * {k}"
    bxp = f"(({bx}) - ({plon})) * {k}"
    ayp = f"(({ay}) - ({plat}))"
    byp = f"(({by}) - ({plat}))"
    dx = f"({bxp} - ({axp}))"
    dy = f"({byp} - ({ayp}))"
    len2 = f"({dx}*{dx} + {dy}*{dy})"
    return (
        f"least(1.0e0, greatest(0.0e0, coalesce((-(({axp})*{dx} + ({ayp})*{dy}))"
        f" / nullif({len2}, 0.0e0), 0.0e0)))"
    )


def linear_reference(
    points: DataFrame,
    lines: DataFrame,
    radius_m: float,
    res: int = 14,
    point_id: str = "point_id",
    line_id: str = "zone_id",
    pos_list: str = "pos_list",
) -> DataFrame:
    """Linear referencing (the NeTEx LinkSequence / route-chainage
    primitive): each point within ``radius_m`` of a polyline gets, beyond
    its snap (line, segment, distance), the CHAINAGE — integer mm travelled
    along the line to the projected point: prefix of whole segments
    (integer-mm cumulative sum, order-free) + round(t · seg_len_mm).

    One extra broadcastable join over snap_join's plan: the per-segment
    prefix table is lines-sized; the corpus-side snap output never
    reshuffles (join key = its groupBy key)."""
    snapped = snap_join(points, lines, radius_m, res, point_id, line_id, pos_list)
    seg_len = round_half(
        f"({haversine_m('sy1', 'sx1', 'sy2', 'sx2', SPARK)}) * 1000.0e0", SPARK
    )
    w = (
        Window.partitionBy("s_id").orderBy("s_seg")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seg_tab = (
        _segments(lines, line_id, pos_list, "s")
        .withColumn("seg_len_mm", F.expr(seg_len))
        .withColumn("prefix_mm", F.coalesce(F.sum("seg_len_mm").over(w), F.lit(0)))
    )
    pts = points.select(point_id, F.col("lat").alias("__plat"), F.col("lon").alias("__plon"))
    t = seg_t_expr("__plat", "__plon", "sy1", "sx1", "sy2", "sx2", SPARK)
    return (
        snapped
        .join(
            F.broadcast(seg_tab),
            (F.col(line_id) == F.col("s_id")) & (F.col("seg_idx") == F.col("s_seg")),
        )
        .join(pts, point_id)
        .selectExpr(
            point_id, line_id, "seg_idx", "dist_m",
            f"prefix_mm + cast(round(({t}) * cast(seg_len_mm as double)) as bigint)"
            " as chainage_mm",
        )
    )
