"""Tile-assign operators: hex ("H3-style") and quad ("S2-style") indexes.

North-rule operators (SURVEY §2.2): assign points and polygon documents to
hierarchical cells, build (cell, id) index tables, expand k-rings.  All cell
math is Catalyst-native (functions.geo) — the hot path never leaves the JVM.

Scale notes:
* index tables are produced pre-partitioned by cell via repartitionByRange —
  downstream cell-equi-joins reuse the partitioning instead of reshuffling;
* explode(cover) fan-out is bounded: bbox covers at res 7–9 of city-sized
  polygons are 10²–10³ cells; AQE splits any skewed cell at join time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import geo
from ..functions.portable import DUCK, SPARK, flit
from ..functions.stages import rounds, run_stages, stages_sql


def assign_point_cells(
    points: DataFrame,
    lat: str = "lat",
    lon: str = "lon",
    resolutions: tuple[int, ...] = (7, 8, 9),
    scheme: str = "hex",
) -> DataFrame:
    """Add cell_r{res} columns for each resolution (projection only, no
    shuffle).  Hex goes through the staged-intermediate builder — the inline
    expression tree duplicates the cube-rounding subtrees and measures ~40%
    slower (functions.geo.hex_cells_staged)."""
    if scheme == "hex":
        out, names = geo.hex_cells_staged(points, lat, lon, resolutions)
        for r, n in zip(resolutions, names):
            out = out.withColumnRenamed(n, f"cell_r{r}")
        return out
    out = points
    for r in resolutions:
        out = out.withColumn(f"cell_r{r}", F.expr(geo.quad_cell(lat, lon, r, SPARK)))
    return out


def polyfill(
    polys: DataFrame,
    pos_list: str = "pos_list",
    resolutions: tuple[int, ...] = (7, 8, 9),
    scheme: str = "hex",
) -> DataFrame:
    """Add cells_r{res} array columns covering each polygon (bbox cover —
    conservative superset; see functions.geo.quad_cover_bbox docstring)."""
    fn = geo.hex_cover_bbox if scheme == "hex" else geo.quad_cover_bbox
    out = polys
    for r in resolutions:
        out = out.withColumn(f"cells_r{r}", F.expr(fn(pos_list, r, SPARK)))
    return out


def quad_bbox_cover(
    df: DataFrame,
    keep: list[str],
    bbox: tuple[str, str, str, str],
    res: int,
    pad_deg: float,
    cell_col: str,
) -> DataFrame:
    """(keep…, cell_col) rows, one per quad cell at ``res`` that meets a
    row's ``bbox`` (lat_lo, lat_hi, lon_lo, lon_hi column expressions),
    padded first by ``pad_deg`` degrees when that is positive.

    The cell filter of every filter-and-refine join, and why it is
    complete.  With ``pad_deg`` = R / M_PER_DEG, a point within R metres
    of the bbox lies inside the padded bbox: its latitude is at most
    ``pad_deg`` away (the meridian bound), its longitude at most
    ``pad_deg / cos φ``, φ its own latitude.  φ lies in the band |φ| <=
    max(|lat_lo|, |lat_hi|) + ``pad_deg``, so the lon pad divides by the
    band's min cosine, clamped at 89° to stay finite (a band that passes
    89° is not covered, nor is a pair across ±180°: the grid does not
    wrap).  Rectangles that meet share a cell, so a cell join of a padded
    cover with an unpadded one loses no pair within R, and the exact
    refine restores precision.

    Staged scalar bounds and two explode(sequence()) projections, never
    one cover HOF (cover_cells' docstring for why)."""
    la_lo, la_hi, lo_lo, lo_hi = bbox
    if pad_deg > 0.0:
        pad = flit(pad_deg)
        cosmin = f"cos(radians(least(89.0e0, greatest(abs({la_lo}), abs({la_hi})) + {pad})))"
        lon_pad = f"({pad} / {cosmin})"
        la_lo, la_hi = f"({la_lo} - {pad})", f"({la_hi} + {pad})"
        lo_lo, lo_hi = f"({lo_lo} - {lon_pad})", f"({lo_hi} + {lon_pad})"
    ix_lo, iy_lo = geo.quad_ixy(la_lo, lo_lo, res, SPARK)
    ix_hi, iy_hi = geo.quad_ixy(la_hi, lo_hi, res, SPARK)
    return (
        df.selectExpr(
            *keep,
            f"{ix_lo} as __ix_lo",
            f"{ix_hi} as __ix_hi",
            f"explode(sequence({iy_lo}, {iy_hi})) as __iy",
        )
        .selectExpr(*keep, "__iy", "explode(sequence(__ix_lo, __ix_hi)) as __ix")
        .selectExpr(*keep, geo.quad_pack("__ix", "__iy", res) + f" as {cell_col}")
    )


def cover_cells(
    polys: DataFrame,
    id_col: str,
    res: int,
    scheme: str = "hex",
    pos_list: str = "pos_list",
    keep: tuple[str, ...] = (),
    cell_col: str = "cell",
) -> DataFrame:
    """(id, [keep…], cell) rows covering each polygon — the exploded-row form
    of the bbox cover, row-for-row identical to
    ``explode(hex/quad_cover_bbox(...))``.

    Why not the single cover expression: the one-expression HOF form carries
    a very large generated tree (bbox reductions + packed-cell enumeration in
    one nested transform/flatten), and its FIXED cost — Catalyst analysis +
    Janino whole-stage-codegen compile, re-paid per fresh plan — dominates
    the query at test scale (3.9s vs 1.15s at sf0.1, an A/B of the two
    forms on the same polygons).  Staging the bbox → axial/grid bounds as
    four scalar columns and enumerating cells with two explode(sequence())
    projections keeps every expression small; the per-row work is identical
    and stays whole-stage-codegen'd.  At the 10^9-doc design point both forms
    amortize their plan cost — but the exploded form is strictly cheaper and
    is what every cover consumer (cell_index, PIP polygon index, raster
    overlay, the polyfill queries) now goes through.
    """
    lats = geo.poslist_lats(pos_list, SPARK)
    lons = geo.poslist_lons(pos_list, SPARK)
    kept = list(keep)
    staged = polys.selectExpr(
        id_col,
        *kept,
        f"array_min({lats}) as __lat_lo",
        f"array_max({lats}) as __lat_hi",
        f"array_min({lons}) as __lon_lo",
        f"array_max({lons}) as __lon_hi",
    )
    if scheme == "quad":
        bbox = ("__lat_lo", "__lat_hi", "__lon_lo", "__lon_hi")
        return quad_bbox_cover(staged, [id_col, *kept], bbox, res, 0.0, cell_col)
    # hex: axial bounds from the 4 bbox corners, padded 1 ring (same formula
    # as hex_cover_bbox — the q/r extrema over a lat/lon rect sit at corners)
    corners = [
        geo.hex_qr(la, lo, res, SPARK)
        for la in ("__lat_lo", "__lat_hi")
        for lo in ("__lon_lo", "__lon_hi")
    ]
    q_exprs = ", ".join(c[0] for c in corners)
    r_exprs = ", ".join(c[1] for c in corners)
    return (
        staged.selectExpr(
            id_col,
            *kept,
            f"least({q_exprs}) - 1 as __q_lo",
            f"greatest({q_exprs}) + 1 as __q_hi",
            f"least({r_exprs}) - 1 as __r_lo",
            f"greatest({r_exprs}) + 1 as __r_hi",
        )
        .selectExpr(id_col, *kept, "__r_lo", "__r_hi", "explode(sequence(__q_lo, __q_hi)) as __hq")
        .selectExpr(id_col, *kept, "__hq", "explode(sequence(__r_lo, __r_hi)) as __hr")
        .selectExpr(id_col, *kept, geo.hex_pack("__hq", "__hr", res) + f" as {cell_col}")
    )


def cell_index(
    polys: DataFrame,
    id_col: str,
    res: int,
    scheme: str = "hex",
    pos_list: str = "pos_list",
    range_partition: bool = True,
) -> DataFrame:
    """(cell, id) index table: one row per covering cell per polygon.

    range-partitioned by cell so PIP/kNN joins against it co-locate without a
    fresh shuffle (SURVEY §2.2 repartitionByRange mandate).
    """
    idx = cover_cells(polys, id_col, res, scheme, pos_list)
    if range_partition:
        idx = idx.repartitionByRange("cell")
    return idx


def kring(cells: DataFrame, cell_col: str, res: int, k: int, scheme: str = "hex") -> DataFrame:
    """Explode each cell into its k-ring (cell_col → ring_cell)."""
    fn = geo.hex_kring if scheme == "hex" else geo.quad_kring
    return cells.withColumn("ring_cell", F.explode(F.expr(fn(cell_col, res, k, SPARK))))


def document_tile_assign(
    documents_nodes: DataFrame,
    resolutions: tuple[int, ...] = (7, 8, 9),
) -> DataFrame:
    """Per-document tile assignment: every osm_node span's point → hex+quad
    cells per resolution, collected per doc (tile_assign_expected shape,
    FIXTURES.md §5).

    Input: extract.extract_nodes output (doc_id, lat, lon, …).
    Output: (doc_id, res, h3_cells, s2_cells) with sorted distinct cells.

    One pass and one shuffle for all resolutions: each node's hex cells
    (staged form, geo.hex_cells_staged) and quad cells are computed once,
    exploded to one (res, hc, qc) struct per resolution, and grouped by
    (doc_id, res).
    """
    staged, hex_cols = geo.hex_cells_staged(
        documents_nodes.select("doc_id", "lat", "lon"), "lat", "lon", resolutions
    )
    per_res = F.array(*[
        F.struct(
            F.lit(r).alias("res"),
            F.col(h).alias("hc"),
            geo.quad_cell_col("lat", "lon", r).alias("qc"),
        )
        for r, h in zip(resolutions, hex_cols)
    ])
    return (
        staged.select("doc_id", F.explode(per_res).alias("c"))
        .groupBy("doc_id", F.col("c.res").alias("res"))
        .agg(
            F.array_sort(F.collect_set("c.hc")).alias("h3_cells"),
            F.array_sort(F.collect_set("c.qc")).alias("s2_cells"),
        )
    )


def compact_cover(
    cover: DataFrame,
    id_col: str,
    cell_col: str = "cell",
    res_hi: int = 9,
    res_lo: int = 7,
) -> DataFrame:
    """S2/H3-style ``compact``: replace every complete 4-sibling set in a
    quad-cell cover with its parent, repeatedly, down to ``res_lo``.

    Input: distinct (id, cell) rows, all cells at ``res_hi`` (quad scheme —
    its aperture-4 hierarchy is an exact tree; the hex scheme's axial
    projection is not, so compaction is quad-only).  Output: mixed-resolution
    (id, cell) rows whose res-``res_hi`` leaf expansion equals the input
    exactly — the canonical minimal form of the cover.

    Scale shape: one window shuffle per level (res_hi − res_lo of them, a
    small constant), partitioned by (id, parent); no driver-side state, no
    distinct pass — a complete sibling group emits its parent from the
    minimum child only, siblings of incomplete groups pass through.  Each
    level's input shrinks by the compaction achieved at the previous one.
    At the 10^9-polygon design point this is how the PIP/overlay cell
    indexes stay small: large zones stop paying res-9 fan-out for their
    interiors (reference osm-to-netex carries whole polygons everywhere —
    OsmToNetexMapper.java:251-267 — and has no index to compact).
    """
    from pyspark.sql import Window

    pow_res = 2**geo.QUAD_RES_BITS
    out = cover.select(F.col(id_col), F.col(cell_col).alias("cell"))
    for r in range(res_hi, res_lo, -1):
        lvl = out.where(F.expr(f"cell div {pow_res} = {r}"))
        rest = out.where(F.expr(f"cell div {pow_res} != {r}"))
        parent = geo.quad_parent("cell", r, SPARK)
        w = Window.partitionBy(F.col(id_col), F.expr(parent))
        lvl = (
            lvl.withColumn("__n", F.count(F.lit(1)).over(w))
            .withColumn("__mn", F.min("cell").over(w))
            .where((F.col("__n") < 4) | (F.col("cell") == F.col("__mn")))
            .select(
                F.col(id_col),
                F.when(F.col("__n") == 4, F.expr(parent))
                .otherwise(F.col("cell"))
                .alias("cell"),
            )
        )
        out = rest.unionByName(lvl)
    return out


def uncompact_cover(
    compacted: DataFrame,
    id_col: str,
    cell_col: str = "cell",
    res: int = 9,
) -> DataFrame:
    """Inverse of :func:`compact_cover`: expand every cell to its res-``res``
    leaf descendants (a cell at res r has 4^(res−r) leaves).  Pure
    explode(sequence()) projection — no shuffle."""
    pow_res = 2**geo.QUAD_RES_BITS
    out = compacted.select(F.col(id_col), F.col(cell_col).alias("cell"))
    frames = []
    for r in range(res, 6, -1):  # levels present in practice: res_lo..res
        lvl = out.where(F.expr(f"cell div {pow_res} = {r}"))
        if r == res:
            frames.append(lvl)
            continue
        span = 2 ** (res - r)
        ix, iy = geo.quad_unpack("cell", r, SPARK)
        lvl = (
            lvl.selectExpr(
                id_col,
                f"{ix} * {span} as __ix0",
                f"{iy} * {span} as __iy0",
            )
            .selectExpr(id_col, "__ix0", f"explode(sequence(__iy0, __iy0 + {span - 1})) as __iy")
            .selectExpr(id_col, "__iy", f"explode(sequence(__ix0, __ix0 + {span - 1})) as __ix")
            .selectExpr(id_col, geo.quad_pack("__ix", "__iy", res) + " as cell")
        )
        frames.append(lvl)
    out = frames[0]
    for f_ in frames[1:]:
        out = out.unionByName(f_)
    return out


def adaptive_partition(
    points: DataFrame,
    cap: int,
    res_lo: int = 7,
    res_hi: int = 9,
    point_id: str = "point_id",
) -> DataFrame:
    """Adaptive quadtree partitioning: each point lands at the COARSEST quad
    resolution in [res_lo, res_hi] whose cell holds ≤ ``cap`` points
    (res_hi if none) — (point_id, cell, res).

    This is the skew-bounding partitioner: dense city cells recursively
    split to finer resolutions while empty countryside stays coarse, so a
    downstream repartition-by-cell gets bounded task sizes without salting.
    The classic iterative split ("split every cell over cap, reassign,
    repeat") reduces to a closed form because a cell's count does not depend
    on whether its parent split: final res = first r with count(cell_r) ≤
    cap.  So the plan is L pure projections + L map-side-combined counts +
    L equi-joins back (L = res_hi−res_lo+1, a small constant) — no
    iteration over data, no driver loop.
    """
    levels = list(range(res_lo, res_hi + 1))
    pts = points.select(
        F.col(point_id),
        *[
            F.expr(geo.quad_cell("lat", "lon", r, SPARK)).alias(f"__c{r}")
            for r in levels
        ],
    )
    out = pts
    for r in levels[:-1]:
        cnt = pts.groupBy(f"__c{r}").agg(F.count(F.lit(1)).alias(f"__n{r}"))
        out = out.join(cnt, f"__c{r}")
    cell = F.col(f"__c{res_hi}")
    res = F.lit(res_hi)
    for r in reversed(levels[:-1]):
        cell = F.when(F.col(f"__n{r}") <= cap, F.col(f"__c{r}")).otherwise(cell)
        res = F.when(F.col(f"__n{r}") <= cap, F.lit(r)).otherwise(res)
    return out.select(F.col(point_id), cell.alias("cell"), res.alias("res"))


def smooth_density(
    points: DataFrame,
    res: int = 9,
    k: int = 2,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Kernel-smoothed point density per quad cell — the heatmap /
    hotspot-detection rollup: every cell's density is the kernel-weighted
    sum of point counts over its (2k+1)² Chebyshev neighbourhood, weight
    1/(1+ring_distance).

    Float discipline: weights are carried as INTEGERS scaled by
    lcm(1..k+1) — cnt·w folds as exact bigint arithmetic in any order
    (partial-agg/merge safe), with ONE double division at the end, so the
    result is bit-identical across partitionings and engines.

    Shape: two partial-aggregated shuffles — (ix, iy) count, then the
    (2k+1)²-way scatter re-aggregated on the target cell.  The scatter runs
    over the CELL table (≪ points), not the corpus.  Cells with no point in
    their neighbourhood are absent (density 0 by convention).
    """
    import math as _m

    lcm = _m.lcm(*range(1, k + 2))
    ix, iy = geo.quad_ixy(lat, lon, res, SPARK)
    counts = (
        points.selectExpr(f"{ix} as cx", f"{iy} as cy")
        .groupBy("cx", "cy")
        .agg(F.count("*").alias("cnt"))
    )
    n = 2**res
    scatter = (
        counts.selectExpr("cx", "cy", "cnt", f"explode(sequence({-k}, {k})) as dx")
        .selectExpr("cx", "cy", "cnt", "dx", f"explode(sequence({-k}, {k})) as dy")
        .selectExpr(
            "cx + dx as tx",
            "cy + dy as ty",
            "cnt",
            f"cast({lcm} as bigint) div (1 + greatest(abs(dx), abs(dy))) as w",
            "cast(dx = 0 and dy = 0 as bigint) * cnt as self_cnt",
        )
        .where(f"tx >= 0 and tx < {n} and ty >= 0 and ty < {n}")
    )
    return (
        scatter.groupBy("tx", "ty")
        .agg(
            F.sum(F.expr("cnt * w")).alias("wsum"),
            F.sum("self_cnt").alias("raw_cnt"),
        )
        .selectExpr(
            "tx as cell_x",
            "ty as cell_y",
            "cast(raw_cnt as bigint) as raw_cnt",
            f"round(cast(wsum as double) / {float(lcm)!r}e0, 9) as density",
        )
    )


def smooth_density_oracle_sql(
    points_sql_text: str,
    res: int = 9,
    k: int = 2,
    lat: str = "lat",
    lon: str = "lon",
) -> str:
    """DuckDB replay: same integer-weight fold, same single division."""
    import math as _m

    from ..functions.portable import DUCK

    lcm = _m.lcm(*range(1, k + 2))
    ix, iy = geo.quad_ixy(lat, lon, res, DUCK)
    n = 2**res
    return f"""
        with pts as ({points_sql_text}),
        counts as (select {ix} as cx, {iy} as cy, count(*) as cnt
                   from pts group by 1, 2),
        scatter as (
            select cx + dx.x as tx, cy + dy.y as ty, cnt,
                   {lcm} // (1 + greatest(abs(dx.x), abs(dy.y))) as w,
                   cast(dx.x = 0 and dy.y = 0 as bigint) * cnt as self_cnt
            from counts,
                 unnest(generate_series({-k}, {k})) dx(x),
                 unnest(generate_series({-k}, {k})) dy(y)
            where cx + dx.x >= 0 and cx + dx.x < {n}
              and cy + dy.y >= 0 and cy + dy.y < {n}
        )
        select tx as cell_x, ty as cell_y,
               cast(sum(self_cnt) as bigint) as raw_cnt,
               round(cast(sum(cnt * w) as double) / {float(lcm)!r}e0, 9) as density
        from scatter group by tx, ty"""


def tile_pyramid(
    points: DataFrame,
    res_hi: int = 9,
    res_lo: int = 5,
    lat: str = "lat",
    lon: str = "lon",
    id_col: str = "point_id",
) -> DataFrame:
    """Multi-resolution tile pyramid — the map-tile / zoom-level rollup
    (count + weighted sum per quad cell at every resolution res_lo..res_hi)
    in ONE pass: the finest cell is computed once from the coordinates,
    each coarser level is derived by integer parent truncation (never
    re-quantizing the floats), and a single ROLLUP over the (c_lo..c_hi)
    hierarchy chain produces every level in one shuffle — Catalyst's Expand
    feeds partial aggregation, so the shuffle carries at most
    (levels × distinct cells) rows per task, not levels × corpus.

    Exactness: the measure is an integer hash weight (``phash60 % 1000``)
    so sums fold exactly in any order/partitioning; counts are counts.
    Cell ids encode their resolution (geo.quad_pack), so levels can never
    collide and ``res`` is recovered by one integer division.

    Output: (res, cell, n_points, w_sum).  Engine-side (SURVEY §2.3).
    """
    from ..functions.portable import concat_str, phash60

    w = f"({phash60(concat_str([chr(39) + 'pyr:w:' + chr(39), id_col], SPARK), SPARK)} % 1000)"
    df = points.selectExpr(
        f"{geo.quad_cell(lat, lon, res_hi, SPARK)} as c{res_hi}", f"{w} as w"
    )
    for r in range(res_hi, res_lo, -1):
        df = df.selectExpr("*", f"{geo.quad_parent(f'c{r}', r, SPARK)} as c{r - 1}")
    levels = [f"c{r}" for r in range(res_lo, res_hi + 1)]
    finest_first = ", ".join(reversed(levels))
    return (
        df.rollup(*levels)
        .agg(F.count("*").alias("n_points"), F.sum("w").alias("w_sum"))
        .where(F.col(levels[0]).isNotNull())  # drop the grand-total row
        .selectExpr(
            f"coalesce({finest_first}) as cell", "n_points", "w_sum"
        )
        .selectExpr(
            f"cast(cell div {2**geo.QUAD_RES_BITS} as int) as res",
            "cell",
            "cast(n_points as bigint) as n_points",
            "cast(w_sum as bigint) as w_sum",
        )
    )


def tile_pyramid_oracle_sql(
    points_cte: str = "geo_points",
    res_hi: int = 9,
    res_lo: int = 5,
    lat: str = "lat",
    lon: str = "lon",
    id_col: str = "point_id",
) -> str:
    """DuckDB replay with an INDEPENDENT plan: per-level GROUP BY unioned,
    instead of one ROLLUP — same integer weights, same parent truncation."""
    from ..functions.portable import DUCK, concat_str, phash60

    w = f"({phash60(concat_str([chr(39) + 'pyr:w:' + chr(39), id_col], DUCK), DUCK)} % 1000)"
    stages = [
        f"p{res_hi} as (select {geo.quad_cell(lat, lon, res_hi, DUCK)} as c{res_hi}, "
        f"{w} as w from {points_cte})"
    ]
    for r in range(res_hi, res_lo, -1):
        stages.append(
            f"p{r - 1} as (select *, {geo.quad_parent(f'c{r}', r, DUCK)} as c{r - 1} "
            f"from p{r})"
        )
    unions = " union all ".join(
        f"select c{r} as cell, count(*) as n_points, sum(w) as w_sum "
        f"from p{res_lo} group by c{r}"
        for r in range(res_lo, res_hi + 1)
    )
    return f"""
        {', '.join(stages)}
        select cast({geo._intdiv('cell', str(2**geo.QUAD_RES_BITS), DUCK)} as int) as res,
               cell, cast(n_points as bigint) as n_points, cast(w_sum as bigint) as w_sum
        from ({unions})"""


def hotspot_gistar(
    points: DataFrame,
    res: int = 8,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Getis-Ord Gi* hotspot statistic per occupied quad cell.

    The inferential sibling of smooth_density: instead of a smoothed count,
    each cell gets a z-score for "is this 3x3 neighbourhood's mass
    significantly above the global mean?" — the standard named statistic for
    hotspot maps.  Study area = the OCCUPIED cells (deterministic from the
    data; empty cells contribute neither to the mean nor to neighbourhoods).

    Exactness: every sum (cell counts, neighbourhood sums W_i, neighbour
    counts n_i, global Σx, Σx²) is integer; the z-score is a short FIXED
    IEEE op sequence over them, so results are bit-identical across engines
    and partitionings.  Degenerate cases (single cell, zero variance) yield
    null via nullif.

    Shape: the corpus collapses to the cell table in one map-side-combined
    count; the 9-way scatter + inner join back to occupied cells and the
    global 1-row aggregate all run over CELLS (≪ points).
    """
    ix, iy = geo.quad_ixy(lat, lon, res, SPARK)
    counts = (
        points.selectExpr(f"{ix} as cx", f"{iy} as cy")
        .groupBy("cx", "cy")
        .agg(F.count("*").alias("cnt"))
    )
    neigh = (
        counts.selectExpr("cx", "cy", "cnt", "explode(sequence(-1, 1)) as dx")
        .selectExpr("cx + dx as tx", "cy", "cnt", "explode(sequence(-1, 1)) as dy")
        .selectExpr("tx", "cy + dy as ty", "cnt as xj")
    )
    tgt = counts.selectExpr("cx", "cy")
    w = (
        neigh.join(tgt, (neigh["tx"] == tgt["cx"]) & (neigh["ty"] == tgt["cy"]))
        .groupBy("cx", "cy")
        .agg(F.sum("xj").alias("wi"), F.count("*").alias("ni"))
    )
    glob = counts.agg(
        F.count("*").alias("nn"),
        F.sum("cnt").alias("sx"),
        F.sum(F.expr("cnt * cnt")).alias("sxx"),
    )
    return (
        w.crossJoin(F.broadcast(glob))
        .selectExpr(
            "cx as cell_x",
            "cy as cell_y",
            "cast(wi as bigint) as wi",
            "cast(ni as bigint) as ni",
            # fixed-order IEEE: xbar, s, denom, z
            "round((cast(wi as double) - (cast(sx as double) / cast(nn as double)) * cast(ni as double)) / "
            "nullif(sqrt(greatest(cast(sxx as double) / cast(nn as double) - "
            "(cast(sx as double) / cast(nn as double)) * (cast(sx as double) / cast(nn as double)), 0.0e0)) * "
            "sqrt((cast(nn as double) * cast(ni as double) - cast(ni as double) * cast(ni as double)) / "
            "(cast(nn as double) - 1.0e0)), 0.0e0), 9) as gi_z",
        )
    )


def hotspot_gistar_oracle_sql(
    points_sql_text: str,
    res: int = 8,
    lat: str = "lat",
    lon: str = "lon",
) -> str:
    """DuckDB replay: same integer sums, same z op sequence."""
    from ..functions.portable import DUCK

    ix, iy = geo.quad_ixy(lat, lon, res, DUCK)
    return f"""
        with pts as ({points_sql_text}),
        counts as (select {ix} as cx, {iy} as cy, count(*) as cnt
                   from pts group by 1, 2),
        neigh as (
            select cx + dx.x as tx, cy + dy.y as ty, cnt as xj
            from counts,
                 unnest(generate_series(-1, 1)) dx(x),
                 unnest(generate_series(-1, 1)) dy(y)
        ),
        w as (
            select c.cx, c.cy, sum(n.xj) as wi, count(*) as ni
            from counts c join neigh n on n.tx = c.cx and n.ty = c.cy
            group by c.cx, c.cy
        ),
        gstats as (
            select count(*) as nn, sum(cnt) as sx, sum(cnt * cnt) as sxx
            from counts
        )
        select cx as cell_x, cy as cell_y, cast(wi as bigint) as wi, cast(ni as bigint) as ni,
               round((cast(wi as double) - (cast(sx as double) / cast(nn as double)) * cast(ni as double)) /
               nullif(sqrt(greatest(cast(sxx as double) / cast(nn as double) -
               (cast(sx as double) / cast(nn as double)) * (cast(sx as double) / cast(nn as double)), 0.0e0)) *
               sqrt((cast(nn as double) * cast(ni as double) - cast(ni as double) * cast(ni as double)) /
               (cast(nn as double) - 1.0e0)), 0.0e0), 9) as gi_z
        from w cross join gstats"""


def moran_local(
    points: DataFrame,
    res: int = 8,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Local Moran's I (Anselin 1995 LISA) per occupied quad cell, with the
    HH/LL/HL/LH cluster-quadrant label — the named local spatial
    autocorrelation statistic (Gi* answers "is this neighbourhood hot?",
    LISA answers "is this cell correlated with its neighbours, and in which
    quadrant?"; HL/LH are the spatial OUTLIERS Gi* cannot see).

    Weights: binary over the 3x3 ring EXCLUDING self, study area = occupied
    cells, variance m2 = population form (/n).  Exactness: multiplying the
    deviations through by n makes both factors integer —
    ``zi_n = n*x_i - Σx`` and ``lag_n = n*W_i - k_i*Σx`` (W_i = sum of
    occupied ring neighbours, k_i their count), and
    ``I_i = zi_n*lag_n / (n*Σx² - (Σx)²)`` is ONE double division of
    integer-valued terms (each cast exact below 2^53 — bounds documented in
    SCALE.md for the corpus sizes this runs at).  Quadrants come from the
    integer SIGNS of zi_n/lag_n, so the labels are exact even where the
    ratio rounds.  Isolated cells (no occupied neighbour) get lag_n = 0 →
    'NS'; a zero-variance field yields null I via nullif.

    Shape: identical to hotspot_gistar — corpus collapses to the cell table
    once, the ring scatter + join + global 1-row aggregate run over CELLS.
    """
    ix, iy = geo.quad_ixy(lat, lon, res, SPARK)
    counts = (
        points.selectExpr(f"{ix} as cx", f"{iy} as cy")
        .groupBy("cx", "cy")
        .agg(F.count("*").alias("cnt"))
    )
    neigh = (
        counts.selectExpr("cx", "cy", "cnt", "explode(sequence(-1, 1)) as dx")
        .selectExpr("cx", "cy", "cnt", "dx", "explode(sequence(-1, 1)) as dy")
        .where("dx <> 0 or dy <> 0")
        .selectExpr("cx + dx as tx", "cy + dy as ty", "cnt as xj")
    )
    nsum = neigh.groupBy("tx", "ty").agg(
        F.sum("xj").alias("wsum"), F.count("*").alias("ki")
    )
    w = counts.join(
        nsum,
        (counts["cx"] == nsum["tx"]) & (counts["cy"] == nsum["ty"]),
        "left",
    ).select("cx", "cy", "cnt", "wsum", "ki")
    glob = counts.agg(
        F.count("*").alias("nn"),
        F.sum("cnt").alias("sx"),
        F.sum(F.expr("cnt * cnt")).alias("sxx"),
    )
    staged = w.crossJoin(F.broadcast(glob)).selectExpr(
        "cx as cell_x",
        "cy as cell_y",
        "cast(nn * cnt - sx as bigint) as zi_n",
        "cast(nn * coalesce(wsum, 0) - coalesce(ki, 0) * sx as bigint) as lag_n",
        "cast(nn * sxx - sx * sx as bigint) as denom",
    )
    return staged.selectExpr(
        "cell_x",
        "cell_y",
        "zi_n",
        "lag_n",
        "round(cast(zi_n as double) * cast(lag_n as double) / "
        "cast(nullif(denom, 0) as double), 9) as moran_i",
        "case when zi_n > 0 and lag_n > 0 then 'HH' "
        "when zi_n < 0 and lag_n < 0 then 'LL' "
        "when zi_n > 0 and lag_n < 0 then 'HL' "
        "when zi_n < 0 and lag_n > 0 then 'LH' "
        "else 'NS' end as quadrant",
    )


def moran_local_oracle_sql(
    points_sql_text: str,
    res: int = 8,
    lat: str = "lat",
    lon: str = "lon",
) -> str:
    """DuckDB replay: same integer numerators, same single division, same
    sign-based quadrant labels."""
    from ..functions.portable import DUCK

    ix, iy = geo.quad_ixy(lat, lon, res, DUCK)
    return f"""
        with pts as ({points_sql_text}),
        counts as (select {ix} as cx, {iy} as cy, count(*) as cnt
                   from pts group by 1, 2),
        neigh as (
            select cx + dx.x as tx, cy + dy.y as ty, cnt as xj
            from counts,
                 unnest(generate_series(-1, 1)) dx(x),
                 unnest(generate_series(-1, 1)) dy(y)
            where dx.x <> 0 or dy.y <> 0
        ),
        nsum as (select tx, ty, sum(xj) as wsum, count(*) as ki
                 from neigh group by tx, ty),
        w as (select c.cx, c.cy, c.cnt, n.wsum, n.ki
              from counts c left join nsum n on n.tx = c.cx and n.ty = c.cy),
        gstats as (select count(*) as nn, sum(cnt) as sx, sum(cnt * cnt) as sxx
                   from counts),
        staged as (
            select cx as cell_x, cy as cell_y,
                   cast(nn * cnt - sx as bigint) as zi_n,
                   cast(nn * coalesce(wsum, 0) - coalesce(ki, 0) * sx as bigint) as lag_n,
                   cast(nn * sxx - sx * sx as bigint) as denom
            from w cross join gstats)
        select cell_x, cell_y, zi_n, lag_n,
               round(cast(zi_n as double) * cast(lag_n as double) /
                     cast(nullif(denom, 0) as double), 9) as moran_i,
               case when zi_n > 0 and lag_n > 0 then 'HH'
                    when zi_n < 0 and lag_n < 0 then 'LL'
                    when zi_n > 0 and lag_n < 0 then 'HL'
                    when zi_n < 0 and lag_n > 0 then 'LH'
                    else 'NS' end as quadrant
        from staged"""


def mk_trend(
    points: DataFrame,
    n_buckets: int,
    res: int = 8,
    lat: str = "lat",
    lon: str = "lon",
    bucket: str = "bucket",
) -> DataFrame:
    """Mann-Kendall monotone-trend test per occupied quad cell over a
    space-time cube of ``n_buckets`` time buckets — the statistic behind
    "emerging hotspot" maps (is this cell's activity trending up or down?).

    Per cell: the bucket series is DENSIFIED (missing buckets count 0 — the
    cube convention, otherwise absence of data reads as trend), then
    S = Σ_{i<j} sign(x_j - x_i) and the tie-adjusted variance
    18·Var(S) = T(T-1)(2T+5) - Σ_g t_g(t_g-1)(2t_g+5) are pure integer
    aggregates; z applies the standard ±1 continuity correction in one fixed
    IEEE op sequence.  trend = increasing/decreasing at |z| > 1.96, else
    none (also when variance degenerates to 0 — all buckets tied).

    Shape: the corpus collapses once to (cell, bucket) counts; densify,
    the T²/2 pair comparison, and the tie term all run over the CELL table
    (fan-out T per cell, T²/2 pairs — T is a small constant like 8).
    """
    T = int(n_buckets)
    ix, iy = geo.quad_ixy(lat, lon, res, SPARK)
    counts = (
        points.selectExpr(f"{ix} as cx", f"{iy} as cy", f"{bucket} as b")
        .groupBy("cx", "cy", "b")
        .agg(F.count("*").alias("cnt"))
    )
    dense = (
        counts.select("cx", "cy")
        .distinct()
        .selectExpr("cx", "cy", f"explode(sequence(0, {T - 1})) as b")
        .join(counts, ["cx", "cy", "b"], "left")
        .selectExpr("cx", "cy", "b", "coalesce(cnt, 0) as x")
    )
    a, bb = dense.alias("a"), dense.alias("b")
    s = (
        a.join(bb, ["cx", "cy"])
        .where("a.b < b.b")
        .groupBy("cx", "cy")
        .agg(F.sum(F.expr("cast(sign(b.x - a.x) as bigint)")).alias("s_stat"))
    )
    ties = (
        dense.groupBy("cx", "cy", "x")
        .agg(F.count("*").alias("tg"))
        .groupBy("cx", "cy")
        .agg(F.sum(F.expr("tg * (tg - 1) * (2 * tg + 5)")).alias("tie_term"))
    )
    base = T * (T - 1) * (2 * T + 5)
    staged = s.join(ties, ["cx", "cy"]).selectExpr(
        "cx as cell_x",
        "cy as cell_y",
        "s_stat",
        f"cast({base} - tie_term as bigint) as var18",
    )
    z = (
        "case when var18 = 0 then null "
        "when s_stat > 0 then (cast(s_stat as double) - 1.0e0) / sqrt(cast(var18 as double) / 18.0e0) "
        "when s_stat < 0 then (cast(s_stat as double) + 1.0e0) / sqrt(cast(var18 as double) / 18.0e0) "
        "else 0.0e0 end"
    )
    return staged.selectExpr(
        "cell_x", "cell_y", "s_stat", "var18",
        f"round({z}, 9) as mk_z",
        f"case when ({z}) > 1.96e0 then 'increasing' "
        f"when ({z}) < -1.96e0 then 'decreasing' "
        "else 'none' end as trend",
    )


def mk_trend_oracle_sql(
    points_sql_text: str,
    n_buckets: int,
    res: int = 8,
    lat: str = "lat",
    lon: str = "lon",
    bucket: str = "bucket",
) -> str:
    """DuckDB replay: same densified cube, same integer S/variance, same z."""
    from ..functions.portable import DUCK

    T = int(n_buckets)
    ix, iy = geo.quad_ixy(lat, lon, res, DUCK)
    base = T * (T - 1) * (2 * T + 5)
    z = (
        "case when var18 = 0 then null "
        "when s_stat > 0 then (cast(s_stat as double) - 1.0e0) / sqrt(cast(var18 as double) / 18.0e0) "
        "when s_stat < 0 then (cast(s_stat as double) + 1.0e0) / sqrt(cast(var18 as double) / 18.0e0) "
        "else 0.0e0 end"
    )
    return f"""
        with pts as ({points_sql_text}),
        counts as (select {ix} as cx, {iy} as cy, {bucket} as b, count(*) as cnt
                   from pts group by 1, 2, 3),
        dense as (
            select c.cx, c.cy, t.b, coalesce(k.cnt, 0) as x
            from (select distinct cx, cy from counts) c
            cross join unnest(generate_series(0, {T - 1})) t(b)
            left join counts k on k.cx = c.cx and k.cy = c.cy and k.b = t.b
        ),
        s as (
            select a.cx, a.cy,
                   cast(sum(cast(sign(b.x - a.x) as bigint)) as bigint) as s_stat
            from dense a join dense b on a.cx = b.cx and a.cy = b.cy and a.b < b.b
            group by a.cx, a.cy
        ),
        ties as (
            select cx, cy, sum(tg * (tg - 1) * (2 * tg + 5)) as tie_term
            from (select cx, cy, x, count(*) as tg from dense group by cx, cy, x)
            group by cx, cy
        ),
        staged as (
            select s.cx as cell_x, s.cy as cell_y, s.s_stat,
                   cast({base} - t.tie_term as bigint) as var18
            from s join ties t on t.cx = s.cx and t.cy = s.cy)
        select cell_x, cell_y, s_stat, var18,
               round({z}, 9) as mk_z,
               case when ({z}) > 1.96e0 then 'increasing'
                    when ({z}) < -1.96e0 then 'decreasing'
                    else 'none' end as trend
        from staged"""


def ripley_k(
    points: DataFrame,
    radii: list[float],
    res: int = 12,
    id_col: str = "point_id",
) -> DataFrame:
    """Ripley's K point-pattern statistic at multiple radii —
    (r_m, n_points, n_pairs, k_hat, l_hat): K(r) = A/(n(n-1)) · #{ordered
    pairs with d ≤ r}, L(r) = sqrt(K/π).  L(r) > r ⇒ clustering at that
    scale, < r ⇒ dispersion — the named multiscale test behind "at what
    radius do these POIs cluster?".

    Study area A = bbox of the points under the equirectangular metric at
    the bbox mid-latitude (deterministic from data; documented convention —
    edge correction is omitted, as in the naive estimator).  Exactness: the
    pair counts are integers off the EXACT radius_join (cell-pruned but
    provably equal to the brute cross join) at the largest radius — one
    candidate pass serves every r; A/K/L are short fixed IEEE sequences.

    Scale: one radius_join at max(radii) + one 1-row aggregate; the per-r
    counts are conditional sums in that same aggregate, so adding radii is
    free.
    """
    from .distjoin import radius_join

    rmax = float(max(radii))
    pairs = radius_join(points, points, rmax, res=res,
                        left_id=id_col, right_id=id_col).where(
        f"{id_col}_a <> {id_col}_b"
    )
    csums = [
        F.sum(F.expr(f"case when dist_m <= {r!r}e0 then 1 else 0 end")).alias(f"c{i}")
        for i, r in enumerate(radii)
    ]
    cnt = pairs.agg(*csums)
    box = points.agg(
        F.count("*").alias("n"),
        F.min("lat").alias("la0"), F.max("lat").alias("la1"),
        F.min("lon").alias("lo0"), F.max("lon").alias("lo1"),
    )
    m = geo.M_PER_DEG
    area = (
        f"((la1 - la0) * {m!r}e0) * "
        f"((lo1 - lo0) * {m!r}e0 * cos(radians((la0 + la1) / 2.0e0)))"
    )
    arr = ", ".join(
        f"named_struct('r_m', {r!r}e0, 'n_pairs', cast(coalesce(c{i}, 0) as bigint))"
        for i, r in enumerate(radii)
    )
    staged = cnt.crossJoin(box).selectExpr(
        "cast(n as bigint) as n_points",
        f"{area} as area_m2",
        f"explode(array({arr})) as rc",
    )
    k = "area_m2 * cast(rc.n_pairs as double) / (cast(n_points as double) * (cast(n_points as double) - 1.0e0))"
    return staged.selectExpr(
        "rc.r_m as r_m",
        "n_points",
        "rc.n_pairs as n_pairs",
        f"round({k}, 6) as k_hat",
        f"round(sqrt(({k}) / 3.141592653589793e0), 6) as l_hat",
    )


def ripley_k_oracle_sql(
    points_sql_text: str,
    radii: list[float],
    id_col: str = "point_id",
) -> str:
    """DuckDB replay: brute ordered-pair cross join (proves radius_join's
    prefilter complete at every r), identical area/K/L op sequences."""
    from ..functions.portable import DUCK, haversine_m

    dist = haversine_m("a.lat", "a.lon", "b.lat", "b.lon", DUCK)
    m = geo.M_PER_DEG
    area = (
        f"((la1 - la0) * {m!r}e0) * "
        f"((lo1 - lo0) * {m!r}e0 * cos(radians((la0 + la1) / 2.0e0)))"
    )
    sums = ", ".join(
        f"sum(case when d <= {r!r}e0 then 1 else 0 end) as c{i}"
        for i, r in enumerate(radii)
    )
    arr = ", ".join(
        f"struct_pack(r_m := {r!r}e0, n_pairs := cast(coalesce(c{i}, 0) as bigint))"
        for i, r in enumerate(radii)
    )
    k = (
        "area_m2 * cast((rc).n_pairs as double) / "
        "(cast(n_points as double) * (cast(n_points as double) - 1.0e0))"
    )
    return f"""
        with pts as ({points_sql_text}),
        pr as (
            select round({dist}, 6) as d
            from pts a join pts b on a.{id_col} <> b.{id_col}
        ),
        cnt as (select {sums} from pr),
        box as (select count(*) as n, min(lat) as la0, max(lat) as la1,
                       min(lon) as lo0, max(lon) as lo1 from pts),
        staged as (
            select cast(n as bigint) as n_points, {area} as area_m2,
                   unnest([{arr}]) as rc
            from cnt cross join box)
        select (rc).r_m as r_m, n_points, (rc).n_pairs as n_pairs,
               round({k}, 6) as k_hat,
               round(sqrt(({k}) / 3.141592653589793e0), 6) as l_hat
        from staged"""


# ---------------------------------------------------------------------------
# Marching-squares contour extraction over the cell density grid
# ---------------------------------------------------------------------------
def contour_sql(
    d: str,
    res: int = 6,
    threshold: int = 3,
    points_table: str = "geo_points",
) -> str:
    """Iso-density contour segments (marching squares) at ``threshold``
    points/cell: per-cell counts become grid-node values (node = cell
    center), every occupied node SCATTERS to the 4 blocks it corners (one
    map-side-combined shuffle — the dense-neighborhood trick shared with
    hotspot/moran), and each block emits its case's line segments with
    linear interpolation along crossing edges.

    Exactness: counts are integers, the inside test is v >= T, and a
    crossing edge always has va >= T > vb, so the interpolation divisor is
    a nonzero integer difference — t = (T−v0)/(v1−v0) is one exact-operand
    IEEE division, identical both engines.  Saddle cases (5, 10) use the
    fixed standard resolution (two segments hugging the inside corners) —
    deterministic, documented, engine-identical.

    Output: (bx, by, seg_idx, gx1, gy1, gx2, gy2) in GRID coordinates
    (node (ix, iy) at integer (ix, iy); callers map to lon/lat via the
    cell-center affine).  Scale: the block table is occupied-cells-sized
    (x4), never corpus-sized."""
    from ..functions import geo
    from ..functions.portable import SPARK as _S

    ix, iy = geo.quad_ixy("lat", "lon", res, d)
    t01 = f"((tt - v0) / (v1 - v0))"
    t12 = f"((tt - v1) / (v2 - v1))"
    t32 = f"((tt - v3) / (v2 - v3))"
    t03 = f"((tt - v0) / (v3 - v0))"
    # edge midpoints in block-local coords (x east, y north)
    bot = (t01, "0.0e0")
    rgt = ("1.0e0", t12)
    top = (t32, "1.0e0")
    lft = ("0.0e0", t03)

    def seg(a, b):
        return [a[0], a[1], b[0], b[1]]

    cases = {
        1: seg(lft, bot), 2: seg(bot, rgt), 3: seg(lft, rgt),
        4: seg(rgt, top), 5: seg(lft, bot) + seg(rgt, top),
        6: seg(bot, top), 7: seg(lft, top), 8: seg(top, lft),
        9: seg(bot, top), 10: seg(bot, rgt) + seg(top, lft),
        11: seg(rgt, top), 12: seg(rgt, lft), 13: seg(bot, rgt),
        14: seg(lft, bot),
    }
    arr = (lambda v: f"array({', '.join(v)})") if d == _S else (
        lambda v: f"[{', '.join(v)}]"
    )
    empty = (
        "cast(array() as array<double>)" if d == _S else "cast([] as double[])"
    )
    whens = " ".join(
        f"when {idx} then {arr(exprs)}" for idx, exprs in sorted(cases.items())
    )
    case_expr = f"(case ci {whens} else {empty} end)"
    if d == _S:
        corners = (
            "explode(array(named_struct('bx', ix - 1, 'by', iy - 1, 'k', 2), "
            "named_struct('bx', ix, 'by', iy - 1, 'k', 3), "
            "named_struct('bx', ix - 1, 'by', iy, 'k', 1), "
            "named_struct('bx', ix, 'by', iy, 'k', 0))) as c"
        )
        expl = "explode(sequence(1, size(segs) div 4)) as s"
        elem = lambda i: f"element_at(segs, cast(4*s - {i} as int))"
    else:
        corners = (
            "unnest([struct_pack(bx := ix - 1, by := iy - 1, k := 2), "
            "struct_pack(bx := ix, by := iy - 1, k := 3), "
            "struct_pack(bx := ix - 1, by := iy, k := 1), "
            "struct_pack(bx := ix, by := iy, k := 0)]) as c"
        )
        expl = "unnest(generate_series(1, len(segs) // 4)) as s"
        elem = lambda i: f"list_extract(segs, cast(4*s - {i} as bigint))"
    return f"""
        with cells as (
            select ix, iy, cast(count(*) as double) as v from (
                select {ix} as ix, {iy} as iy from {points_table}
            ) group by ix, iy
        ),
        scattered as (
            select (c).bx as bx, (c).by as by, (c).k as k, v
            from (select v, {corners} from cells)
        ),
        blocks as (
            select bx, by,
                   max(case when k = 0 then v else 0.0e0 end) as v0,
                   max(case when k = 1 then v else 0.0e0 end) as v1,
                   max(case when k = 2 then v else 0.0e0 end) as v2,
                   max(case when k = 3 then v else 0.0e0 end) as v3
            from scattered group by bx, by
        ),
        classified as (
            select bx, by, {case_expr} as segs from (
                select bx, by, v0, v1, v2, v3,
                       cast({float(threshold)} as double) as tt,
                       ((case when v0 >= {float(threshold)} then 1 else 0 end)
                        + (case when v1 >= {float(threshold)} then 2 else 0 end)
                        + (case when v2 >= {float(threshold)} then 4 else 0 end)
                        + (case when v3 >= {float(threshold)} then 8 else 0 end)) as ci
                from blocks
            )
        ),
        segs as (
            select bx, by, segs, {expl}
            from classified where {'size' if d == _S else 'len'}(segs) > 0
        )
        select bx, by, cast(s as int) as seg_idx,
               cast(bx as double) + {elem(3)} as gx1,
               cast(by as double) + {elem(2)} as gy1,
               cast(bx as double) + {elem(1)} as gx2,
               cast(by as double) + {elem(0)} as gy2
        from segs
    """


def contour(spark, res: int = 6, threshold: int = 3, points_table: str = "geo_points"):
    """Engine entry for contour_sql (see there)."""
    from ..functions.portable import SPARK as _S

    return spark.sql(contour_sql(_S, res=res, threshold=threshold, points_table=points_table))


# ---------------------------------------------------------------------------
# Service area (isochrone) over the occupied-cell grid
# ---------------------------------------------------------------------------
def _service_area_cells_sql(d: str, res: int, points_table: str, seed_mod: int) -> str:
    """Occupied cells with centers + seed flag (any point with
    point_id % seed_mod == 0 makes its cell a seed)."""
    from ..functions import geo
    from ..functions.portable import flit

    n = 2**res
    latstep, lonstep = 180.0 / n, 360.0 / n
    ix, iy = geo.quad_ixy("lat", "lon", res, d)
    cla = f"((cast(iy as double) + 0.5e0) * {flit(latstep)} - 90.0e0)"
    clo = f"((cast(ix as double) + 0.5e0) * {flit(lonstep)} - 180.0e0)"
    return f"""
        select ix, iy, {cla} as clat, {clo} as clon,
               max(case when point_id % {seed_mod} = 0 then 1 else 0 end) as seed
        from (select point_id, {ix} as ix, {iy} as iy from {points_table})
        group by ix, iy
    """


def _service_area_edges_sql(d: str, cells: str) -> str:
    """8-neighbour edges between OCCUPIED cells, weight = integer-mm
    haversine between centers (symmetric; both directions emitted by the
    ±1 offset cross)."""
    from ..functions.portable import haversine_m, round_half

    w = round_half(f"({haversine_m('a.clat', 'a.clon', 'b.clat', 'b.clon', d)}) * 1000.0e0", d)
    return f"""
        select a.ix as six, a.iy as siy, b.ix as dix, b.iy as diy, {w} as w
        from {cells} a join {cells} b
          on abs(a.ix - b.ix) <= 1 and abs(a.iy - b.iy) <= 1
         and not (a.ix = b.ix and a.iy = b.iy)
    """


def _service_area_iter_sql(edges: str, prev: str) -> str:
    return (
        f"select ix, iy, min(dist) as dist from ("
        f"  select ix, iy, dist from {prev}"
        f"  union all"
        f"  select e.dix as ix, e.diy as iy, p.dist + e.w as dist"
        f"  from {edges} e join {prev} p on e.six = p.ix and e.siy = p.iy"
        f") group by ix, iy"
    )


def _service_area_stages(
    d: str, res: int, n_rounds: int, seed_mod: int, budget_mm: int | None, points_table: str
):
    last = _service_area_iter_sql("__sa_edges", f"__sa_d{n_rounds - 1}")
    where = f" where dist <= {int(budget_mm)}" if budget_mm is not None else ""
    return [
        ("__sa_cells", _service_area_cells_sql(d, res, points_table, seed_mod)),
        ("__sa_edges", _service_area_edges_sql(d, "__sa_cells")),
        *rounds(
            "__sa_d",
            "select ix, iy, cast(0 as bigint) as dist from __sa_cells where seed = 1",
            lambda p: _service_area_iter_sql("__sa_edges", p),
            n_rounds - 1,
        ),
    ], f"select ix, iy, dist from ({last}) t{where}"


def service_area(
    spark,
    res: int = 9,
    n_rounds: int = 4,
    seed_mod: int = 9,
    budget_mm: int | None = None,
    points_table: str = "geo_points",
):
    """Isochrone / service-area cells: exact min walking distance (integer
    mm over 8-neighbour cell-center hops) from the seed cells, within
    ``n_rounds`` synchronous relaxations — the transit 'what can reach this
    stop' product query, grid-discretized.

    Same scale shape as graph.sssp: the frontier is sparse, each round is
    one equi-join + one map-side-combined min-agg, rounds are staged
    (functions.stages) so the plan stays linear in K; integer weights
    make every round order-free and both engines bit-identical.  The edge
    join is an occupied-cells self-join under a ±1 band predicate —
    cell-table-sized, never corpus-sized.  ``budget_mm`` filters to the
    iso-contour (None keeps every reached cell with its distance)."""
    return run_stages(
        spark, *_service_area_stages(SPARK, res, n_rounds, seed_mod, budget_mm, points_table)
    )


def service_area_oracle_sql(
    res: int = 9,
    n_rounds: int = 4,
    seed_mod: int = 9,
    budget_mm: int | None = None,
    points_table: str = "geo_points",
) -> str:
    """The same stages as materialized CTEs (DuckDB dialect)."""
    return stages_sql(
        *_service_area_stages(DUCK, res, n_rounds, seed_mod, budget_mm, points_table)
    )


def g_function(
    points: DataFrame,
    radii: list[float],
    res: int = 13,
    id_col: str = "point_id",
) -> DataFrame:
    """Nearest-neighbor distance distribution (the G-function, Ripley's K's
    sibling): G(r) = fraction of points whose NEAREST neighbor lies within
    r — (r_m, n_points, n_within, g_hat) per radius.  Clustered patterns
    rise early, inhibited/regular patterns late; together with K it
    separates aggregation from inhibition.

    Exactness: NN distances are mins over the EXACT cell-pruned radius
    join at max(radii) (provably equal to brute), quantized to integer µm
    before the min fold; points with no neighbor within r_max simply never
    enter a bucket (they count in the denominator — the censored tail the
    naive estimator has).  Conditional counts for every r come from ONE
    aggregate over the NN table.

    Scale: one radius_join at r_max + one point-keyed min + a 1-row
    aggregate; adding radii is free."""
    from .distjoin import radius_join

    rmax = float(max(radii))
    pairs = radius_join(
        points, points, rmax, res=res, left_id=id_col, right_id=id_col
    ).where(f"{id_col}_a <> {id_col}_b")
    nn = pairs.groupBy(f"{id_col}_a").agg(
        F.min(F.expr("cast(floor(dist_m * 1.0e6 + 0.5e0) as bigint)")).alias(
            "nn_um"
        )
    )
    csums = [
        F.sum(
            F.expr(f"case when nn_um <= {int(round(r * 1e6))} then 1 else 0 end")
        ).alias(f"c{i}")
        for i, r in enumerate(radii)
    ]
    cnt = nn.agg(*csums)
    n = points.agg(F.count("*").alias("n"))
    arr = ", ".join(
        f"named_struct('r_m', {r!r}e0, 'n_within', cast(coalesce(c{i}, 0) as bigint))"
        for i, r in enumerate(radii)
    )
    return (
        cnt.crossJoin(n)
        .selectExpr(f"cast(n as bigint) as n_points", f"explode(array({arr})) as rc")
        .selectExpr(
            "rc.r_m as r_m",
            "n_points",
            "rc.n_within as n_within",
            "round(cast(rc.n_within as double) / cast(n_points as double), 9) as g_hat",
        )
    )


def g_function_oracle_sql(
    points_sql_text: str,
    radii: list[float],
    id_col: str = "point_id",
) -> str:
    """Brute replay: NN distance from the full cross join, same µm
    quantization, same conditional sums."""
    from ..functions.portable import DUCK, haversine_m

    dist = haversine_m("a.lat", "a.lon", "b.lat", "b.lon", DUCK)
    sums = ", ".join(
        f"sum(case when nn_um <= {int(round(r * 1e6))} then 1 else 0 end) as c{i}"
        for i, r in enumerate(radii)
    )
    arr = ", ".join(
        f"struct_pack(r_m := {r!r}e0, n_within := cast(coalesce(c{i}, 0) as bigint))"
        for i, r in enumerate(radii)
    )
    return f"""
        with pts as ({points_sql_text}),
        nn as (
            select a.{id_col} as pid,
                   min(cast(floor(round({dist}, 6) * 1.0e6 + 0.5e0) as bigint))
                       as nn_um
            from pts a join pts b on a.{id_col} <> b.{id_col}
            group by a.{id_col}
        ),
        cnt as (select {sums} from nn),
        n as (select count(*) as n from pts),
        staged as (
            select cast(n.n as bigint) as n_points, unnest([{arr}]) as rc
            from cnt cross join n)
        select (rc).r_m as r_m, n_points, (rc).n_within as n_within,
               round(cast((rc).n_within as double) / cast(n_points as double), 9)
                   as g_hat
        from staged"""
