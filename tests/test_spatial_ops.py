"""Spatial operators: PIP binding, kNN, tiling, raster — pruned plans must
equal their brute-force oracles exactly."""

import pytest
from pyspark.sql import functions as F

from osm_to_netex_spark.operators import assemble, extract, knn, pip, raster, tiling, zones
from tests.support import SF


@pytest.fixture(scope="module")
def geo_fixture(spark, corpus):
    nodes = extract.extract_nodes(corpus).cache()
    ways = extract.extract_ways(corpus)
    asm = assemble.assemble_poslist(ways, nodes, broadcast_nodes=True)
    zdf = zones.map_zones(asm, "TariffZone").select("zone_id", "pos_list").cache()
    pts = (
        nodes.where(F.expr("tags['entity'] is not null"))
        .select(
            F.expr("tags['id']").alias("point_id"),
            "lat",
            "lon",
            F.expr("tags['entity']").alias("entity"),
        )
        .cache()
    )
    zdf.count(), pts.count()
    return zdf, pts


def test_pip_cell_join_equals_brute(spark, geo_fixture):
    zdf, pts = geo_fixture
    for scheme in ("quad", "hex"):
        fast = pip.bind_points_to_polygons(pts, zdf, res=8, scheme=scheme)
        brute = pip.bind_points_brute_force(pts, zdf)
        assert set(map(tuple, fast.collect())) == set(map(tuple, brute.collect())), scheme


def test_pip_finds_hits_and_misses(spark, geo_fixture):
    zdf, pts = geo_fixture
    bound = pip.bind_points_to_polygons(pts, zdf, res=8)
    n_bound = bound.select("point_id").distinct().count()
    assert 0 < n_bound < pts.count()  # fixture has ins and outs


def test_knn_pruned_equals_brute(spark, geo_fixture):
    _, pts = geo_fixture
    quays = pts.where("entity = 'Quay'").withColumnRenamed("point_id", "quay_id")
    stops = pts.where("entity = 'StopPlace'").withColumnRenamed("point_id", "stop_id")
    kb = knn.knn_brute_force(quays, stops, k=3)
    for scheme, res in (("hex", 9), ("quad", 11)):
        kp = knn.knn_cell_pruned(quays, stops, k=3, res=res, ring=1, scheme=scheme)
        assert set(map(tuple, kp.select("quay_id", "stop_id", "rn").collect())) == set(
            map(tuple, kb.select("quay_id", "stop_id", "rn").collect())
        ), scheme


def test_knn_cell_join_strategy_equals_brute(spark, geo_fixture):
    """Non-dimension strategy (no broadcast of the stop side anywhere):
    shuffled cell join + coarser-res escalation must still be exact."""
    _, pts = geo_fixture
    quays = pts.where("entity = 'Quay'").withColumnRenamed("point_id", "quay_id")
    stops = pts.where("entity = 'StopPlace'").withColumnRenamed("point_id", "stop_id")
    kb = knn.knn_brute_force(quays, stops, k=3)
    kp = knn.knn_cell_pruned(
        quays, stops, k=3, res=11, ring=1, scheme="quad",
        stops_are_dimension=False, escalation_levels=2,
    )
    assert set(map(tuple, kp.select("quay_id", "stop_id", "rn").collect())) == set(
        map(tuple, kb.select("quay_id", "stop_id", "rn").collect())
    )


def test_knn_cell_join_plan_has_no_broadcast(spark, geo_fixture):
    """The cell-join strategy must not plan a BroadcastExchange on the stop
    side — at the 10^12 design point the stop table is corpus-sized and a
    broadcast OOMs (AQE may still convert small runtime sides; the static
    plan is what must be broadcast-free)."""
    import contextlib
    import io

    _, pts = geo_fixture
    quays = pts.where("entity = 'Quay'").withColumnRenamed("point_id", "quay_id")
    stops = pts.where("entity = 'StopPlace'").withColumnRenamed("point_id", "stop_id")

    def plan_of(df) -> str:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("extended")
        return buf.getvalue().lower()

    # at test scale the planner auto-broadcasts ANY side under the 10 MB
    # threshold (size-based and correct — at 100 TB the stats flip it to a
    # shuffle join); disable it so only *forced* broadcasts (hints) show
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        kp = knn.knn_cell_pruned(
            quays, stops, k=3, res=11, ring=1, scheme="quad",
            stops_are_dimension=False, escalation_levels=1,
        )
        assert "broadcast" not in plan_of(kp)
        # the dimension strategy, by contrast, forces broadcasts by hint
        kd = knn.knn_cell_pruned(quays, stops, k=3, res=11, ring=1,
                                 scheme="quad", stops_are_dimension=True)
        assert "broadcast" in plan_of(kd)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_knn_collect_orders_by_distance(spark, geo_fixture):
    _, pts = geo_fixture
    quays = pts.where("entity = 'Quay'").withColumnRenamed("point_id", "quay_id")
    stops = pts.where("entity = 'StopPlace'").withColumnRenamed("point_id", "stop_id")
    kb = knn.knn_brute_force(quays, stops, k=3)
    collected = {r.quay_id: r.stopplace_ids for r in knn.knn_collect(kb).collect()}
    raw = kb.orderBy("quay_id", "rn").collect()
    for qid, ids in collected.items():
        expect = [r.stop_id for r in raw if r.quay_id == qid]
        assert ids == expect


def test_tile_assign_deterministic_across_partitioning(spark, corpus):
    nodes = extract.extract_nodes(corpus)
    a = tiling.document_tile_assign(nodes, resolutions=(7, 8))
    b = tiling.document_tile_assign(nodes.repartition(11), resolutions=(7, 8))
    key = lambda df: {
        (r.doc_id, r.res): (tuple(r.h3_cells), tuple(r.s2_cells)) for r in df.collect()
    }
    assert key(a) == key(b)


def test_raster_lookup_and_zonal_stats(spark, geo_fixture):
    zdf, pts = geo_fixture
    ras = raster.synthesize_raster(spark, res=12).cache()
    assert ras.count() > 100
    lk = raster.point_raster_lookup(pts, ras, res=12)
    assert lk.where("value is null").count() == 0
    zs = raster.zonal_stats(zdf, ras, res=12).collect()
    assert len(zs) == zdf.count()
    for r in zs:
        assert r.min_value <= r.avg_value <= r.max_value
        assert r.n_cells >= 1


def test_cell_index_partitioning(spark, geo_fixture):
    zdf, _ = geo_fixture
    idx = tiling.cell_index(zdf, "zone_id", res=8, scheme="quad")
    assert idx.count() > 0
    assert set(idx.columns) == {"zone_id", "cell"}


def test_staged_hex_cells_equal_inline(spark, geo_fixture):
    """The staged-intermediate hex builder must produce bit-identical cells
    to the inline formula (the oracle's form) at every resolution."""
    from osm_to_netex_spark.functions import geo as G
    from osm_to_netex_spark.functions.portable import SPARK as SD

    _, pts = geo_fixture
    staged = tiling.assign_point_cells(pts, resolutions=(7, 8, 9, 12), scheme="hex")
    check = staged
    for r in (7, 8, 9, 12):
        check = check.withColumn(f"ref_r{r}", F.expr(G.hex_cell("lat", "lon", r, SD)))
    bad = check.where(
        " OR ".join(f"cell_r{r} != ref_r{r}" for r in (7, 8, 9, 12))
    ).count()
    assert bad == 0
    assert staged.count() == pts.count()


def test_pip_cell_join_strategy_no_broadcast_same_rows(spark, geo_fixture):
    """broadcast_polygons=False must produce the same binding through a
    shuffled cell equi-join, with no static BroadcastExchange/hint on the
    polygon index (the 100 TB path when the index outgrows broadcast)."""
    import contextlib
    import io

    # clean inputs (the shared fixture's assembly plan carries its own
    # broadcast hint on the way side, which is not what's under test)
    zdf = spark.createDataFrame(
        [("z1", [0.0, 0.0, 0.0, 1.0, 1.0, 1.0, 1.0, 0.0, 0.0, 0.0])],
        ["zone_id", "pos_list"],
    )
    pts = spark.createDataFrame(
        [(1, 0.5, 0.5), (2, 2.0, 2.0), (3, 0.25, 0.75)],
        ["point_id", "lat", "lon"],
    )
    bcast = pip.bind_points_to_polygons(pts, zdf, res=8, broadcast_polygons=True)
    shuf = pip.bind_points_to_polygons(pts, zdf, res=8, broadcast_polygons=False)
    assert set(map(tuple, bcast.collect())) == set(map(tuple, shuf.collect())) == {
        (1, "z1"), (3, "z1")
    }

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        shuf.explain("extended")
    logical = buf.getvalue().lower().split("== physical plan ==")[0]
    assert "broadcast" not in logical


def test_radius_join_equals_brute(spark, geo_fixture):
    """Cell-pruned radius join must equal the brute cross join exactly,
    including adversarial rows: polar points (per-row lon bound blows past
    max_ring_x -> fallback), antimeridian straddlers (grid cannot wrap ->
    fallback strip), and a pair straddling +-180."""
    from osm_to_netex_spark.operators import distjoin

    _, pts = geo_fixture
    extra = spark.createDataFrame(
        [
            ("P_N1", 89.97, 10.0),
            ("P_N2", 89.98, -170.0),  # near-polar pair: lon nearly irrelevant
            ("P_AM1", 60.0, 179.999),
            ("P_AM2", 60.0, -179.999),  # ~111 m apart across the antimeridian
            ("P_AM3", 60.0, 179.95),
            ("P_S1", -89.99, 0.0),
        ],
        "point_id string, lat double, lon double",
    )
    allpts = pts.select("point_id", "lat", "lon").unionByName(extra)
    for radius, res in ((2000.0, 13), (8000.0, 11)):
        fast = distjoin.radius_join(allpts, allpts, radius_m=radius, res=res)
        fast_pairs = {
            (a, b)
            for a, b, _ in fast.select("point_id_a", "point_id_b", "dist_m").collect()
            if a < b
        }
        from osm_to_netex_spark.functions.portable import SPARK as SP, haversine_m

        a = allpts.selectExpr("point_id as ida", "lat as la", "lon as lo")
        b = allpts.selectExpr("point_id as idb", "lat as lb", "lon as lm")
        brute = (
            a.crossJoin(b)
            .where(F.expr(f"({haversine_m('la', 'lo', 'lb', 'lm', SP)}) <= {radius}"))
            .where("ida < idb")
        )
        brute_pairs = {(r["ida"], r["idb"]) for r in brute.collect()}
        assert fast_pairs == brute_pairs, (radius, res)
        # the adversarial rows actually produced pairs
        if radius == 8000.0:
            assert ("P_AM1", "P_AM2") in fast_pairs
            assert ("P_N1", "P_N2") in fast_pairs


# --- compact_cover / uncompact_cover ---------------------------------------
def _quad(ix, iy, res):
    from osm_to_netex_spark.functions import geo

    return res * 2**geo.QUAD_RES_BITS + iy * 2**geo.QUAD_AXIS_BITS + ix


def test_compact_cover_roundtrip_and_shrink(spark):
    """A dense 8x8 res-9 block + a ragged edge: compaction must shrink it,
    and uncompacting back to res 9 must reproduce the input set exactly."""
    cells = [(1, _quad(ix, iy, 9)) for ix in range(8, 16) for iy in range(4, 12)]
    # ragged extras that cannot complete any sibling set
    cells += [(1, _quad(16, iy, 9)) for iy in range(4, 11)]
    # second id: a single lonely cell (no compaction possible)
    cells += [(2, _quad(100, 100, 9))]
    df = spark.createDataFrame(cells, "zone_id long, cell long")

    comp = tiling.compact_cover(df, "zone_id", res_hi=9, res_lo=7)
    n_in, n_out = df.count(), comp.count()
    # 8x8 block = 4 complete res-8 sets = 4 complete siblings -> 1 res-7 cell
    assert n_out < n_in
    back = tiling.uncompact_cover(comp, "zone_id", res=9)
    a = {(r[0], r[1]) for r in df.collect()}
    b = {(r[0], r[1]) for r in back.collect()}
    assert a == b
    # the dense block collapsed all the way to res 7
    from osm_to_netex_spark.functions import geo

    res_present = {
        r[0]
        for r in comp.where("zone_id = 1")
        .selectExpr(f"cell div {2**geo.QUAD_RES_BITS} as r")
        .distinct()
        .collect()
    }
    assert 7 in res_present


# --- snap_join (point -> nearest polyline segment) --------------------------
def test_seg_dist_geometry_cases(spark):
    """Projection clamps to endpoints; on-segment points give ~0; degenerate
    zero-length segments behave as point distance."""
    from osm_to_netex_spark.operators.distjoin import seg_dist_m
    from osm_to_netex_spark.functions import geo as g

    rows = spark.sql(
        "select "
        + seg_dist_m("0.0e0", "0.0e0", "0.0e0", "1.0e0", "0.0e0", "2.0e0", "spark")
        + " as beyond_a, "
        + seg_dist_m("0.0e0", "1.5e0", "0.0e0", "1.0e0", "0.0e0", "2.0e0", "spark")
        + " as on_seg, "
        + seg_dist_m("1.0e0", "1.0e0", "0.0e0", "1.0e0", "0.0e0", "1.0e0", "spark")
        + " as degen"
    ).first()
    assert abs(rows["beyond_a"] - 1.0 * g.M_PER_DEG) < 1e-6
    assert rows["on_seg"] < 1e-9
    assert abs(rows["degen"] - 1.0 * g.M_PER_DEG) < 1e-6


def _brute_seg_pairs(pts, zdf, radius_m):
    """(point_id, zone_id, seg_idx, dist) for every point × polyline segment
    pair within ``radius_m``: the cross join with no cell filter."""
    from osm_to_netex_spark.operators import distjoin

    segs = zdf.selectExpr(
        "zone_id",
        "pos_list as pl",
        "explode(sequence(1, size(pos_list) div 2 - 1)) as i",
    ).selectExpr(
        "zone_id",
        "i as seg_idx",
        "element_at(pl, cast(2*i - 1 as int)) as ay",
        "element_at(pl, cast(2*i as int)) as ax",
        "element_at(pl, cast(2*i + 1 as int)) as by",
        "element_at(pl, cast(2*i + 2 as int)) as bx",
    )
    d = distjoin.seg_dist_m("lat", "lon", "ay", "ax", "by", "bx", "spark")
    return (
        pts.crossJoin(segs)
        .selectExpr("point_id", "zone_id", "seg_idx", f"{d} as dist")
        .where(F.col("dist") <= radius_m)
    )


def test_snap_join_equals_brute(spark, geo_fixture):
    """Cell-pruned snap must equal the brute per-point argmin exactly."""
    from osm_to_netex_spark.operators import distjoin

    zdf, pts = geo_fixture
    snapped = distjoin.snap_join(pts, zdf, radius_m=3000.0, res=10)
    got = {(r["point_id"], r["zone_id"], r["seg_idx"]) for r in snapped.collect()}

    brute = _brute_seg_pairs(pts, zdf, 3000.0)
    from pyspark.sql import Window

    w = Window.partitionBy("point_id").orderBy("dist", "zone_id", "seg_idx")
    want = {
        (r["point_id"], r["zone_id"], r["seg_idx"])
        for r in brute.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .collect()
    }
    assert got == want and len(got) > 0


def test_corridor_join_equals_brute(spark, geo_fixture):
    """Cell-pruned corridor join must return exactly the brute rows within
    R: every pair, each once, with the same rounded distance."""
    from osm_to_netex_spark.operators import distjoin

    zdf, pts = geo_fixture
    got = [
        (r["point_id"], r["zone_id"], r["seg_idx"], r["dist_m"])
        for r in distjoin.corridor_join(pts, zdf, radius_m=3000.0, res=10).collect()
    ]
    want = [
        (r["point_id"], r["zone_id"], r["seg_idx"], r["dist_m"])
        for r in _brute_seg_pairs(pts, zdf, 3000.0)
        .selectExpr("point_id", "zone_id", "seg_idx", "round(dist, 6) as dist_m")
        .collect()
    ]
    assert sorted(got) == sorted(want) and len(want) > 0


def test_adaptive_partition_bounds_and_levels(spark):
    """Every cell emitted below res_hi holds <= cap points; dense clusters
    actually escalate to finer levels; assignment is partition-invariant."""
    from osm_to_netex_spark.operators import tiling as T

    # 400 points jammed in one small spot + 30 scattered
    rows = [(i, 50.001 + (i % 7) * 1e-4, 8.001 + (i % 11) * 1e-4) for i in range(400)]
    rows += [(1000 + i, 40.0 + i * 1.7, -30.0 + i * 2.3) for i in range(30)]
    df = spark.createDataFrame(rows, "point_id long, lat double, lon double")
    out = T.adaptive_partition(df, cap=50, res_lo=5, res_hi=8).cache()
    assert out.count() == 430
    over = (
        out.where("res < 8")
        .groupBy("cell")
        .count()
        .where("count > 50")
        .count()
    )
    assert over == 0
    # the dense cluster hits res_hi, the scattered points stay coarse
    levels = {r["res"] for r in out.select("res").distinct().collect()}
    assert 8 in levels and 5 in levels
    out2 = T.adaptive_partition(df.repartition(13), cap=50, res_lo=5, res_hi=8)
    assert {tuple(r) for r in out.collect()} == {tuple(r) for r in out2.collect()}
    out.unpersist()


@pytest.mark.usefixtures("fresh_views")
def test_trip_stats_partition_invariant_and_sane(spark):
    from osm_to_netex_spark.functions.portable import SPARK
    from osm_to_netex_spark.operators import trajectory
    from osm_to_netex_spark.plans.queries import corpus

    corpus.register_geometry_views(spark, SF)
    fixes = spark.sql(corpus.event_fixes_sql(SPARK, "tr"))
    sql = trajectory.trip_stats_sql(SPARK, "{fixes}")
    a = spark.sql(sql, fixes=fixes).collect()
    b = spark.sql(sql, fixes=fixes.repartition(17, "event_id")).collect()
    key = lambda rows: {(r["user_id"], r["trip"]): tuple(r) for r in rows}
    assert key(a) == key(b) and len(a) > 0
    for r in a:
        # path is a sum of legs >= the straight-line displacement (up to the
        # 1e-6 rounding applied to both)
        assert r["path_m"] + 1e-5 >= r["displacement_m"]
        assert r["n_points"] >= 1 and r["duration_s"] >= 0.0
    multi = [r for r in a if r["n_points"] > 1]
    assert multi, "fixture must contain multi-point trips"
