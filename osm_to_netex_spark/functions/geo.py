"""Geospatial cell-index & predicate math, Catalyst-native and DuckDB-portable.

Two from-scratch hierarchical cell schemes (the ``h3``/``s2sphere`` libraries
are not available in this environment, so the math is implemented directly;
semantics are engine-defined and deterministic):

* **quad** ("S2-style"): equirectangular quadtree.  At resolution ``r`` the
  world is a 2^r × 2^r lat/lon grid; ``cell = r·2^58 + iy·2^29 + ix``.
  Parent = (r-1, iy>>1, ix>>1) — strictly hierarchical.  Valid r ∈ [0, 28].
* **hex** ("H3-style"): pointy-top hexagons on the equirectangular plane with
  H3-like sizing ``circumradius_deg(r) = 10 · 7^(-r/2)`` (res 7 ≈ 1.2 km, the
  north rule's res 7–9 polyfill window).  Axial (q, r) via cube rounding;
  ``cell = res·2^54 + (q+2^25)·2^27 + (rz+2^25)``.  Valid res ∈ [0, 12].

Everything is emitted as SQL strings for both dialects (see
``functions.portable``) so the engine plan and the DuckDB oracle share one
formula source; Spark wrappers hand the string to ``F.expr`` → pure JVM
whole-stage codegen, no Python in the hot path.

The reference never computes any of this (SURVEY §2.1 negative findings —
zones are copied, not spatially joined); these operators are the north-rule
engine surface (SURVEY §2.2).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, functions as F

from .portable import (
    DUCK,
    flit,
    SPARK,
    element_at,
    exists_,
    filter_,
    floor_bigint,
    haversine_m,
    let_,
    reduce_,
    seq,
    size,
    transform,
)

QUAD_RES_BITS = 58
QUAD_AXIS_BITS = 29
HEX_RES_BITS = 54
HEX_Q_BITS = 27
HEX_OFFSET = 2**25

EARTH_RADIUS_M = 6371008.8
# ~meters per degree latitude; used for deg<->m conversions in candidate radii
M_PER_DEG = EARTH_RADIUS_M * math.pi / 180.0


def hex_size_deg(res: int) -> float:
    """Hex circumradius in degrees at a resolution (H3-like √7 aperture)."""
    return 10.0 * (7.0 ** (-res / 2.0))


def _intdiv(a: str, b: str, d: str) -> str:
    return f"({a} div {b})" if d == SPARK else f"({a} // {b})"


# ---------------------------------------------------------------------------
# quad ("S2-style") cells
# ---------------------------------------------------------------------------
def quad_ixy(lat: str, lon: str, res: int, d: str) -> tuple[str, str]:
    n = 2**res
    ix = f"least(greatest({floor_bigint(f'(({lon}) + 180.0e0) / 360.0e0 * {n}')}, 0), {n - 1})"
    iy = f"least(greatest({floor_bigint(f'(({lat}) + 90.0e0) / 180.0e0 * {n}')}, 0), {n - 1})"
    return ix, iy


def quad_pack(ix: str, iy: str, res: int) -> str:
    return f"(cast({res} as bigint) * {2**QUAD_RES_BITS} + ({iy}) * {2**QUAD_AXIS_BITS} + ({ix}))"


def quad_cell(lat: str, lon: str, res: int, d: str) -> str:
    """Packed quad cell id of a point."""
    ix, iy = quad_ixy(lat, lon, res, d)
    return quad_pack(ix, iy, res)


def quad_unpack(cell: str, res: int, d: str) -> tuple[str, str]:
    rem = f"(({cell}) - {res * 2**QUAD_RES_BITS})"
    iy = _intdiv(rem, str(2**QUAD_AXIS_BITS), d)
    ix = f"({rem} % {2**QUAD_AXIS_BITS})"
    return ix, iy


def quad_parent(cell: str, res: int, d: str) -> str:
    """Parent cell at res-1."""
    ix, iy = quad_unpack(cell, res, d)
    return quad_pack(_intdiv(ix, "2", d), _intdiv(iy, "2", d), res - 1)


def quad_kring(cell: str, res: int, k: int, d: str) -> str:
    """All quad cells within Chebyshev distance k (border cells clipped)."""
    n = 2**res
    ix, iy = quad_unpack(cell, res, d)
    # bind the unpacked coords once: `cell` may itself be an inlined
    # expression (e.g. quad_cell over generated lat/lon), which would
    # otherwise re-evaluate per ring element
    row = transform(
        seq(str(-k), str(k), d),
        "dx",
        quad_pack("(__b.ix + dx)", "(__b.iy + dy)", res),
        d,
    )
    rows = transform(seq(str(-k), str(k), d), "dy", row, d)
    flat = let_({"ix": ix, "iy": iy}, f"flatten({rows})", d)
    lo = res * 2**QUAD_RES_BITS
    # clip: derived ix/iy must stay in [0, n): reject by unpacking each candidate
    return filter_(
        flat,
        "c",
        f"((c - {lo}) % {2**QUAD_AXIS_BITS}) >= 0 AND ((c - {lo}) % {2**QUAD_AXIS_BITS}) < {n} "
        f"AND {_intdiv(f'(c - {lo})', str(2**QUAD_AXIS_BITS), d)} >= 0 "
        f"AND {_intdiv(f'(c - {lo})', str(2**QUAD_AXIS_BITS), d)} < {n}",
        d,
    )


# ---------------------------------------------------------------------------
# pos_list helpers (packed polygon rings: [lat0,lon0,lat1,lon1,...])
# ---------------------------------------------------------------------------
def poslist_lats(pl: str, d: str) -> str:
    npts = _intdiv(size(pl, d), "2", d)
    return transform(seq("1", npts, d), "i", element_at(pl, "2*i - 1", d), d)


def poslist_lons(pl: str, d: str) -> str:
    npts = _intdiv(size(pl, d), "2", d)
    return transform(seq("1", npts, d), "i", element_at(pl, "2*i", d), d)


def arr_min(lst: str, d: str) -> str:
    return f"array_min({lst})" if d == SPARK else f"list_aggregate({lst}, 'min')"


def arr_max(lst: str, d: str) -> str:
    return f"array_max({lst})" if d == SPARK else f"list_aggregate({lst}, 'max')"


def quad_cover_bbox(pl: str, res: int, d: str) -> str:
    """Conservative quad covering of a polygon: every res-r cell intersecting
    the polygon's bbox.  Superset of any cell containing an interior point →
    always a correct pruning index for PIP (exactness is restored by the
    ray-cast refinement).  SQL-expressible in both dialects.
    """
    n = 2**res
    lats, lons = poslist_lats(pl, d), poslist_lons(pl, d)
    ix_lo = f"least(greatest({floor_bigint(f'({arr_min(lons, d)} + 180.0e0) / 360.0e0 * {n}')}, 0), {n - 1})"
    ix_hi = f"least(greatest({floor_bigint(f'({arr_max(lons, d)} + 180.0e0) / 360.0e0 * {n}')}, 0), {n - 1})"
    iy_lo = f"least(greatest({floor_bigint(f'({arr_min(lats, d)} + 90.0e0) / 180.0e0 * {n}')}, 0), {n - 1})"
    iy_hi = f"least(greatest({floor_bigint(f'({arr_max(lats, d)} + 90.0e0) / 180.0e0 * {n}')}, 0), {n - 1})"
    # bind the (reduction-heavy) range limits ONCE per row — as raw sequence
    # bounds they would re-evaluate per outer-row element during HOF
    # interpretation, turning an O(cells) cover into O(cells × |ring|)
    row = transform(seq("__b.ix_lo", "__b.ix_hi", d), "qx", quad_pack("qx", "qy", res), d)
    body = f"flatten({transform(seq('__b.iy_lo', '__b.iy_hi', d), 'qy', row, d)})"
    return let_(
        {"ix_lo": ix_lo, "ix_hi": ix_hi, "iy_lo": iy_lo, "iy_hi": iy_hi}, body, d
    )


def quad_cell_classify(cell: str, pl: str, res: int, d: str) -> str:
    """Classify a quad cell vs a polygon: 2 = interior (cell entirely inside),
    1 = boundary (some polygon edge may pass through the cell), 0 = outside.

    Rules (conservative in the safe direction):
      * any polygon edge whose bbox overlaps the cell rect → 1 (the exact
        point test must run for points in this cell);
      * no overlapping edge and the cell center is inside → the whole cell is
        inside (no boundary crosses it) → 2 (point test provably true);
      * otherwise → 0 (provably outside — prune).

    This is the index-side work that makes PIP probes O(local edges): at the
    10^12-doc design point the probe side dwarfs the polygon side, so any
    per-candidate cost moved into this per-(zone, cell) classification is
    amortized millions of times over.
    """
    n = 2**res
    cellw, cellh = 360.0 / n, 180.0 / n
    lo = res * 2**QUAD_RES_BITS
    ix = f"(({cell} - {lo}) % {2**QUAD_AXIS_BITS})"
    iy = _intdiv(f"({cell} - {lo})", str(2**QUAD_AXIS_BITS), d)
    cw = f"({ix} * {cellw!r}e0 - 180.0e0)"
    cs = f"({iy} * {cellh!r}e0 - 90.0e0)"
    clat = f"({cs} + {cellh / 2.0!r}e0)"
    clon = f"({cw} + {cellw / 2.0!r}e0)"
    center_in = point_in_polygon(clat, clon, pl, d)

    npts = _intdiv(size(pl, d), "2", d)
    yi = element_at(pl, "2*i - 1", d)
    xi = element_at(pl, "2*i", d)
    yj = element_at(pl, "2*i + 1", d)
    xj = element_at(pl, "2*i + 2", d)
    edge_overlap = (
        f"least({xi}, {xj}) <= {cw} + {cellw!r}e0 AND greatest({xi}, {xj}) >= {cw} "
        f"AND least({yi}, {yj}) <= {cs} + {cellh!r}e0 AND greatest({yi}, {yj}) >= {cs}"
    )
    if d == SPARK:
        any_edge = f"exists({seq('1', f'({npts} - 1)', d)}, i -> {edge_overlap})"
    else:
        any_edge = f"len(list_filter({seq('1', f'({npts} - 1)', d)}, i -> {edge_overlap})) > 0"
    return (
        f"(CASE WHEN {any_edge} THEN 1 WHEN ({center_in}) THEN 2 ELSE 0 END)"
    )


def quad_cover_refined(pl: str, res: int, d: str) -> str:
    """Tight-but-still-correct quad covering: bbox cover filtered to cells
    whose center is inside the polygon OR that overlap some edge's bbox.

    Correctness (superset of all cells intersecting the polygon): if a cell
    meets the polygon at all, either its center is interior, or the polygon
    boundary passes through the cell — and then that edge's bbox overlaps the
    cell rect.  Typically 2–5× fewer cells than the bbox cover for star
    polygons, i.e. 2–5× less PIP join fan-out at scale.  The test is
    :func:`quad_cell_classify` > 0 (boundary or interior).
    """
    return filter_(quad_cover_bbox(pl, res, d), "c", f"{quad_cell_classify('c', pl, res, d)} > 0", d)


# ---------------------------------------------------------------------------
# hex ("H3-style") cells
# ---------------------------------------------------------------------------
def hex_qr(lat: str, lon: str, res: int, d: str) -> tuple[str, str]:
    """Axial (q, r) of the hex containing a point, via cube rounding."""
    s = hex_size_deg(res)
    sqrt3_3 = math.sqrt(3.0) / 3.0
    qf = f"(({flit(sqrt3_3)} * ({lon}) - ({lat}) / 3.0e0) / {flit(s)})"
    rf = f"((2.0e0 / 3.0e0 * ({lat})) / {flit(s)})"
    yf = f"(-({qf}) - ({rf}))"
    rx, ry, rz = (
        f"cast(round({qf}) as bigint)",
        f"cast(round({yf}) as bigint)",
        f"cast(round({rf}) as bigint)",
    )
    dx = f"abs({rx} - {qf})"
    dy = f"abs({ry} - {yf})"
    dz = f"abs({rz} - {rf})"
    big = f"({dx} > {dy} AND {dx} > {dz})"
    q = f"(CASE WHEN {big} THEN (-({ry}) - ({rz})) ELSE {rx} END)"
    r = f"(CASE WHEN (NOT {big}) AND (NOT ({dy} > {dz})) THEN (-({rx}) - ({ry})) ELSE {rz} END)"
    return q, r


def hex_pack(q: str, r: str, res: int) -> str:
    return (
        f"(cast({res} as bigint) * {2**HEX_RES_BITS} + (({q}) + {HEX_OFFSET}) * {2**HEX_Q_BITS} "
        f"+ (({r}) + {HEX_OFFSET}))"
    )


def hex_cell(lat: str, lon: str, res: int, d: str) -> str:
    q, r = hex_qr(lat, lon, res, d)
    return hex_pack(q, r, res)


def hex_unpack(cell: str, res: int, d: str) -> tuple[str, str]:
    rem = f"(({cell}) - {res * 2**HEX_RES_BITS})"
    q = f"({_intdiv(rem, str(2**HEX_Q_BITS), d)} - {HEX_OFFSET})"
    r = f"(({rem} % {2**HEX_Q_BITS}) - {HEX_OFFSET})"
    return q, r


def hex_kring(cell: str, res: int, k: int, d: str) -> str:
    """All hex cells within axial hex-distance k (H3 kRing semantics)."""
    q, r = hex_unpack(cell, res, d)
    # bind once — see quad_kring
    row = transform(
        filter_(seq(str(-k), str(k), d), "dr", f"abs(dq + dr) <= {k}", d),
        "dr",
        hex_pack("(__b.q + dq)", "(__b.r + dr)", res),
        d,
    )
    return let_(
        {"q": q, "r": r},
        f"flatten({transform(seq(str(-k), str(k), d), 'dq', row, d)})",
        d,
    )


def hex_cell_classify(cell: str, pl: str, res: int, d: str) -> str:
    """Classify a hex cell vs a polygon: 2 = interior, 1 = boundary-possible,
    0 = outside — same contract as quad_cell_classify, using the hex's
    conservative bounding rect (pointy-top: half-extents = circumradius s in
    lat, s·√3/2 in lon).  If no polygon edge's bbox overlaps the rect, the
    whole rect (⊇ hex) lies on one side of the boundary and the center
    decides; otherwise the exact per-point test must run."""
    s = hex_size_deg(res)
    sqrt3 = math.sqrt(3.0)
    q, r = hex_unpack(cell, res, d)
    clat = f"({flit(1.5 * s)} * ({r}))"
    clon = f"({flit(sqrt3 * s)} * (({q}) + ({r}) / 2.0e0))"
    hlat, hlon = s, s * sqrt3 / 2.0
    center_in = point_in_polygon(clat, clon, pl, d)

    npts = _intdiv(size(pl, d), "2", d)
    yi = element_at(pl, "2*i - 1", d)
    xi = element_at(pl, "2*i", d)
    yj = element_at(pl, "2*i + 1", d)
    xj = element_at(pl, "2*i + 2", d)
    edge_overlap = (
        f"least({xi}, {xj}) <= {clon} + {flit(hlon)} AND greatest({xi}, {xj}) >= {clon} - {flit(hlon)} "
        f"AND least({yi}, {yj}) <= {clat} + {flit(hlat)} AND greatest({yi}, {yj}) >= {clat} - {flit(hlat)}"
    )
    if d == SPARK:
        any_edge = f"exists({seq('1', f'({npts} - 1)', d)}, i -> {edge_overlap})"
    else:
        any_edge = f"len(list_filter({seq('1', f'({npts} - 1)', d)}, i -> {edge_overlap})) > 0"
    return f"(CASE WHEN {any_edge} THEN 1 WHEN ({center_in}) THEN 2 ELSE 0 END)"


def hex_cover_bbox(pl: str, res: int, d: str) -> str:
    """Conservative hex covering of a polygon: hexes whose axial coordinates
    fall in the axial range spanned by the bbox corners, padded by 1 ring.
    Superset of hexes containing any polygon point (pad covers the skew of
    the axial transform across the bbox).
    """
    lats, lons = poslist_lats(pl, d), poslist_lons(pl, d)
    lat_lo, lat_hi = arr_min(lats, d), arr_max(lats, d)
    lon_lo, lon_hi = arr_min(lons, d), arr_max(lons, d)
    # axial q grows with lon and shrinks with lat → corners give extrema
    q_ll, r_ll = hex_qr(lat_lo, lon_lo, res, d)
    q_lh, r_lh = hex_qr(lat_lo, lon_hi, res, d)
    q_hl, r_hl = hex_qr(lat_hi, lon_lo, res, d)
    q_hh, r_hh = hex_qr(lat_hi, lon_hi, res, d)
    q_lo = f"(least({q_ll}, {q_lh}, {q_hl}, {q_hh}) - 1)"
    q_hi = f"(greatest({q_ll}, {q_lh}, {q_hl}, {q_hh}) + 1)"
    r_lo = f"(least({r_ll}, {r_lh}, {r_hl}, {r_hh}) - 1)"
    r_hi = f"(greatest({r_ll}, {r_lh}, {r_hl}, {r_hh}) + 1)"
    # bind the axial range limits ONCE per row: each embeds 4 corner
    # hex_qr trees over bbox reductions (~10^4 interpreted ops) and would
    # otherwise re-evaluate per `hq` element of the outer transform
    row = transform(seq("__b.r_lo", "__b.r_hi", d), "hr", hex_pack("hq", "hr", res), d)
    body = f"flatten({transform(seq('__b.q_lo', '__b.q_hi', d), 'hq', row, d)})"
    return let_({"q_lo": q_lo, "q_hi": q_hi, "r_lo": r_lo, "r_hi": r_hi}, body, d)


# ---------------------------------------------------------------------------
# vector zone statistics (shoelace area, centroid, perimeter over pos_list)
# ---------------------------------------------------------------------------
def _edge_sum(pl: str, term: str, d: str) -> str:
    """Fold `term` (in edge index i: vertices i and i+1, 1-based) over the
    closed ring — same left-to-right IEEE summation order both dialects."""
    npts = _intdiv(size(pl, d), "2", d)
    return reduce_(seq("1", f"({npts} - 1)", d), "0.0e0", "acc", "i", f"acc + {term}", d)


def _edge_vertices(pl: str, d: str) -> tuple[str, str, str, str]:
    yi = element_at(pl, "2*i - 1", d)
    xi = element_at(pl, "2*i", d)
    yj = element_at(pl, "2*i + 1", d)
    xj = element_at(pl, "2*i + 2", d)
    return yi, xi, yj, xj


def poly_cross_sum(pl: str, d: str) -> str:
    """Signed shoelace sum Σ (x_i·y_{i+1} − x_{i+1}·y_i) (= 2·signed area);
    x = lon, y = lat, planar equirectangular — engine-defined deg² metric
    like everything else in this module."""
    yi, xi, yj, xj = _edge_vertices(pl, d)
    return _edge_sum(pl, f"(({xi}) * ({yj}) - ({xj}) * ({yi}))", d)


def poly_area(pl: str, d: str) -> str:
    """Unsigned planar polygon area in deg² (shoelace / 2)."""
    return f"(abs({poly_cross_sum(pl, d)}) / 2.0e0)"


def poly_centroid_lon(pl: str, d: str) -> str:
    """Polygon centroid x (lon): Σ (x_i+x_{i+1})·cross_i / (3·cross_sum);
    null for degenerate zero-area rings."""
    yi, xi, yj, xj = _edge_vertices(pl, d)
    cross = f"(({xi}) * ({yj}) - ({xj}) * ({yi}))"
    num = _edge_sum(pl, f"((({xi}) + ({xj})) * {cross})", d)
    return f"({num} / nullif(3.0e0 * {poly_cross_sum(pl, d)}, 0.0e0))"


def poly_centroid_lat(pl: str, d: str) -> str:
    yi, xi, yj, xj = _edge_vertices(pl, d)
    cross = f"(({xi}) * ({yj}) - ({xj}) * ({yi}))"
    num = _edge_sum(pl, f"((({yi}) + ({yj})) * {cross})", d)
    return f"({num} / nullif(3.0e0 * {poly_cross_sum(pl, d)}, 0.0e0))"


def poly_perimeter_deg(pl: str, d: str) -> str:
    """Planar ring perimeter in degrees (Σ edge lengths, sqrt is
    correctly-rounded IEEE in both engines)."""
    yi, xi, yj, xj = _edge_vertices(pl, d)
    e2 = (
        f"((({yj}) - ({yi})) * (({yj}) - ({yi})) + "
        f"(({xj}) - ({xi})) * (({xj}) - ({xi})))"
    )
    return _edge_sum(pl, f"sqrt({e2})", d)


# ---------------------------------------------------------------------------
# point-in-polygon (ray casting over packed pos_list)
# ---------------------------------------------------------------------------
def point_in_polygon(lat: str, lon: str, pl: str, d: str) -> str:
    """Even-odd ray cast: true iff (lat, lon) is inside the closed ring ``pl``
    ([lat0,lon0,...,lat0,lon0]).  The horizontal ray goes toward +lon.
    Boundary points follow the half-open edge rule of the classic algorithm.
    Branch order guards the division: the inner CASE only evaluates when
    yi != yj (lazy CASE in both engines), so ANSI division-by-zero is safe.
    """
    npts = _intdiv(size(pl, d), "2", d)
    yi = element_at(pl, "2*i - 1", d)
    xi = element_at(pl, "2*i", d)
    yj = element_at(pl, "2*i + 1", d)
    xj = element_at(pl, "2*i + 2", d)
    term = (
        f"(CASE WHEN (({yi}) > ({lat})) <> (({yj}) > ({lat})) THEN "
        f"(CASE WHEN ({lon}) < (({xj}) - ({xi})) * (({lat}) - ({yi})) / (({yj}) - ({yi})) + ({xi}) "
        f"THEN 1 ELSE 0 END) ELSE 0 END)"
    )
    crossings = reduce_(seq("1", f"({npts} - 1)", d), "0", "acc", "i", f"acc + {term}", d)
    return f"(({crossings}) % 2 = 1)"


# ---------------------------------------------------------------------------
# polygon-polygon overlap (vertex containment + proper edge crossing)
# ---------------------------------------------------------------------------
def segments_cross(pa: str, pb: str, d: str) -> str:
    """True iff any edge of closed ring ``pa`` PROPERLY crosses any edge of
    ``pb`` (opposite orientations on both edges — d1·d2 < 0 ∧ d3·d4 < 0).
    Collinear/touching contacts are not crossings.  O(|pa|·|pb|) edge pairs;
    intended to run AFTER a cell/bbox prefilter, on candidate pairs only."""
    na = _intdiv(size(pa, d), "2", d)
    nb = _intdiv(size(pb, d), "2", d)
    coords = {
        "ay1": element_at(pa, "2*ii - 1", d),
        "ax1": element_at(pa, "2*ii", d),
        "ay2": element_at(pa, "2*ii + 1", d),
        "ax2": element_at(pa, "2*ii + 2", d),
        "by1": element_at(pb, "2*jj - 1", d),
        "bx1": element_at(pb, "2*jj", d),
        "by2": element_at(pb, "2*jj + 1", d),
        "bx2": element_at(pb, "2*jj + 2", d),
    }
    v = "__e"

    def orient(ox: str, oy: str, px: str, py: str, qx: str, qy: str) -> str:
        return (
            f"(({v}.{px} - {v}.{ox}) * ({v}.{qy} - {v}.{oy}) - "
            f"({v}.{py} - {v}.{oy}) * ({v}.{qx} - {v}.{ox}))"
        )

    d1 = orient("bx1", "by1", "bx2", "by2", "ax1", "ay1")
    d2 = orient("bx1", "by1", "bx2", "by2", "ax2", "ay2")
    d3 = orient("ax1", "ay1", "ax2", "ay2", "bx1", "by1")
    d4 = orient("ax1", "ay1", "ax2", "ay2", "bx2", "by2")
    pred = f"(({d1}) * ({d2}) < 0.0e0 AND ({d3}) * ({d4}) < 0.0e0)"
    body = let_({k: coords[k] for k in coords}, pred, d, var=v)
    inner = exists_(seq("1", f"({nb} - 1)", d), "jj", body, d)
    return exists_(seq("1", f"({na} - 1)", d), "ii", inner, d)


def polygons_overlap(pa: str, pb: str, d: str) -> str:
    """Intersection predicate for two simple closed rings: a vertex of
    one inside the other (covers full containment), OR a proper
    edge crossing (covers star-crossing pairs with no contained vertex) —
    approximately OGC ST_Intersects.  Boundary-degenerate contacts (shared
    vertex, collinear edge graze) follow the half-open ray-cast convention:
    deterministic and identical in the oracle, but a measure-zero touch may
    classify either way depending on orientation — exact-arithmetic boundary
    semantics are out of scope for float rings."""
    na = _intdiv(size(pa, d), "2", d)
    nb = _intdiv(size(pb, d), "2", d)
    va = exists_(
        seq("1", f"({na} - 1)", d),
        "ii",
        point_in_polygon(
            element_at(pa, "2*ii - 1", d), element_at(pa, "2*ii", d), pb, d
        ),
        d,
    )
    vb = exists_(
        seq("1", f"({nb} - 1)", d),
        "jj",
        point_in_polygon(
            element_at(pb, "2*jj - 1", d), element_at(pb, "2*jj", d), pa, d
        ),
        d,
    )
    return f"(({va}) OR ({vb}) OR ({segments_cross(pa, pb, d)}))"


# ---------------------------------------------------------------------------
# PySpark Column wrappers (F.expr over the spark-dialect strings)
# ---------------------------------------------------------------------------
def hex_cells_staged(df, lat: str, lon: str, resolutions, prefix: str = "__hexc"):
    """Add hex cell columns with the cube-rounding intermediates staged as
    named projection columns instead of one inline expression tree.

    The inline ``hex_cell`` string re-expands qf/rf inside every round()/
    abs()/CASE reference (the expression is a tree, not a DAG), and the
    duplicated subtrees survive codegen — measured 39% slower than this
    staged form over 8M rows at 3 resolutions, identical checksums.  The
    planner keeps the staging because the aliases are non-cheap and
    multiply-referenced (CollapseProject's cost guard).

    Returns (df, [cell column names]).  The staged intermediates are
    dropped; only the packed cell columns remain.
    """
    import math as _m

    names = []
    drop = []
    for r in resolutions:
        s = hex_size_deg(r)
        sqrt3_3 = _m.sqrt(3.0) / 3.0
        qf, rf, yf = f"__qf{r}", f"__rf{r}", f"__yf{r}"
        rx, ry, rz = f"__rx{r}", f"__ry{r}", f"__rz{r}"
        dx, dy, dz = f"__dx{r}", f"__dy{r}", f"__dz{r}"
        df = (
            df.withColumn(qf, F.expr(f"(({flit(sqrt3_3)} * ({lon}) - ({lat}) / 3.0e0) / {flit(s)})"))
            .withColumn(rf, F.expr(f"((2.0e0 / 3.0e0 * ({lat})) / {flit(s)})"))
        )
        df = df.withColumn(yf, F.expr(f"(-{qf} - {rf})"))
        df = (
            df.withColumn(rx, F.expr(f"cast(round({qf}) as bigint)"))
            .withColumn(ry, F.expr(f"cast(round({yf}) as bigint)"))
            .withColumn(rz, F.expr(f"cast(round({rf}) as bigint)"))
        )
        df = (
            df.withColumn(dx, F.expr(f"abs({rx} - {qf})"))
            .withColumn(dy, F.expr(f"abs({ry} - {yf})"))
            .withColumn(dz, F.expr(f"abs({rz} - {rf})"))
        )
        big = f"({dx} > {dy} AND {dx} > {dz})"
        q = f"(CASE WHEN {big} THEN (-{ry} - {rz}) ELSE {rx} END)"
        rr = f"(CASE WHEN (NOT {big}) AND (NOT ({dy} > {dz})) THEN (-{rx} - {ry}) ELSE {rz} END)"
        name = f"{prefix}{r}"
        df = df.withColumn(name, F.expr(hex_pack(q, rr, r)))
        names.append(name)
        drop += [qf, rf, yf, rx, ry, rz, dx, dy, dz]
    return df.drop(*drop), names


def quad_cell_col(lat: str, lon: str, res: int) -> Column:
    return F.expr(quad_cell(lat, lon, res, SPARK))


def poly_area_sph_m2(pl: str, d: str) -> str:
    """Unsigned GEODESIC polygon area in m² (spherical-excess shoelace, the
    turf.js/Karney small-polygon form): A = R²/2 · |Σ (λ_{i+1} − λ_i) ·
    (2 + sin φ_i + sin φ_{i+1})|, angles in radians, ring closed.  Same
    left-to-right fold both dialects (``_edge_sum``), so the value is
    bit-identical cross-engine.  Unlike the planar deg² shoelace this is a
    real areal quantity — correct at any latitude (the cos φ scale factor is
    in the sine terms), which is what a raster/zonal consumer wants."""
    yi, xi, yj, xj = _edge_vertices(pl, d)
    term = (
        f"((radians({xj}) - radians({xi})) * "
        f"(2.0e0 + sin(radians({yi})) + sin(radians({yj}))))"
    )
    return f"(abs({_edge_sum(pl, term, d)}) * {EARTH_RADIUS_M!r}e0 * {EARTH_RADIUS_M!r}e0 / 2.0e0)"


def poly_perimeter_m(pl: str, d: str) -> str:
    """GEODESIC ring perimeter in meters: Σ haversine edge lengths, same
    sequential fold order both dialects."""
    from .portable import haversine_m

    yi, xi, yj, xj = _edge_vertices(pl, d)
    leg = haversine_m(f"({yi})", f"({xi})", f"({yj})", f"({xj})", d)
    return _edge_sum(pl, f"({leg})", d)


# ---------------------------------------------------------------------------
# cell → boundary ring (H3 cellToBoundary / S2 GetVertex analogue)
# ---------------------------------------------------------------------------
def _flat_array(terms: list[str], d: str) -> str:
    return f"array({', '.join(terms)})" if d == SPARK else f"[{', '.join(terms)}]"


def hex_boundary(cell: str, res: int, d: str) -> str:
    """Flat [lat0,lon0,...,lat5,lon5] ring of a hex cell — pointy-top, CCW
    from the top vertex.  Vertex offsets are PRECOMPUTED python-float
    literals (one add per coordinate), and the center uses the exact same
    op sequence as hex_cell_classify's clat/clon — both engines emit
    bit-identical doubles."""
    s = hex_size_deg(res)
    h = math.sqrt(3.0) / 2.0 * s
    q, r = hex_unpack(cell, res, d)
    clat = f"({flit(1.5 * s)} * ({r}))"
    clon = f"({flit(math.sqrt(3.0) * s)} * (({q}) + ({r}) / 2.0e0))"
    offs = [  # (dlat, dlon) at angles 90,150,210,270,330,30 — CCW
        (s, 0.0), (0.5 * s, -h), (-0.5 * s, -h),
        (-s, 0.0), (-0.5 * s, h), (0.5 * s, h),
    ]
    offs.append(offs[0])  # pos_list rings are CLOSED (first == last)
    terms = []
    for dy, dx in offs:
        terms.append(f"(__b.clat + {flit(dy)})")
        terms.append(f"(__b.clon + {flit(dx)})")
    return let_({"clat": clat, "clon": clon}, _flat_array(terms, d), d)


def quad_boundary(cell: str, res: int, d: str) -> str:
    """Flat [lat,lon]×4 ring of a quad cell — CCW from the SW corner.
    Corner coords are ix·step − 180 (etc.) with step a python-float literal,
    identical in both engines."""
    n = 2**res
    ix, iy = quad_unpack(cell, res, d)
    latstep, lonstep = 180.0 / n, 360.0 / n
    lat_lo = f"(__b.fiy * {flit(latstep)} - 90.0e0)"
    lat_hi = f"((__b.fiy + 1.0e0) * {flit(latstep)} - 90.0e0)"
    lon_lo = f"(__b.fix * {flit(lonstep)} - 180.0e0)"
    lon_hi = f"((__b.fix + 1.0e0) * {flit(lonstep)} - 180.0e0)"
    terms = [
        lat_lo, lon_lo, lat_lo, lon_hi, lat_hi, lon_hi, lat_hi, lon_lo,
        lat_lo, lon_lo,  # pos_list rings are CLOSED (first == last)
    ]
    return let_(
        {"fix": f"cast({ix} as double)", "fiy": f"cast({iy} as double)"},
        _flat_array(terms, d),
        d,
    )


def quad_cell_center(cell: str, res: int, d: str) -> tuple[str, str]:
    """(clat, clon) of a quad cell's center — the same arithmetic (and float
    literal formatting) as quad_cell_classify's internal center, exposed for
    consumers that need the center as a point (label-point search)."""
    n = 2**res
    cellw, cellh = 360.0 / n, 180.0 / n
    lo = res * 2**QUAD_RES_BITS
    ix = f"(({cell} - {lo}) % {2**QUAD_AXIS_BITS})"
    iy = _intdiv(f"({cell} - {lo})", str(2**QUAD_AXIS_BITS), d)
    cw = f"({ix} * {cellw!r}e0 - 180.0e0)"
    cs = f"({iy} * {cellh!r}e0 - 90.0e0)"
    clat = f"({cs} + {cellh / 2.0!r}e0)"
    clon = f"({cw} + {cellw / 2.0!r}e0)"
    return clat, clon
