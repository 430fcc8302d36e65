"""Refined cover, salted joins, CLI job — the scale-hardening layer."""

import os

import pytest
from pyspark.sql import functions as F

from osm_to_netex_spark.functions import geo
from osm_to_netex_spark.functions.portable import SPARK
from osm_to_netex_spark.operators import skew

SMALLOSM = os.path.join(os.path.dirname(__file__), "fixtures", "smallosm.xml")


@pytest.fixture(scope="module")
def star_ring(spark):
    import math

    import numpy as np

    rng = np.random.RandomState(3)
    pts = []
    n = 14
    for j in range(n):
        a = 2 * math.pi * j / n
        r = 0.25 * (0.6 + 0.8 * rng.rand())
        pts.append((59.8 + r * math.cos(a), 10.1 + r * math.sin(a)))
    pts.append(pts[0])
    return [v for p in pts for v in p]


def test_refined_cover_is_superset_of_hits_and_tighter(spark, star_ring):
    pl = "array(" + ",".join(repr(v) + "e0" for v in star_ring) + ")"
    res = 12  # cells small enough that the bbox cover has non-intersecting corners
    row = spark.sql(
        f"select size({geo.quad_cover_bbox(pl, res, SPARK)}) as nb, "
        f"size({geo.quad_cover_refined(pl, res, SPARK)}) as nr, "
        f"{geo.quad_cover_refined(pl, res, SPARK)} as refined"
    ).collect()[0]
    assert row.nr < row.nb  # tighter
    # superset property: every point inside the polygon has its cell in cover
    pts = spark.range(500).selectExpr(
        "59.55 + (cast(conv(substring(md5(concat('x', id)), 1, 15), 16, 10) as bigint) / 1152921504606846976.0e0) * 0.5e0 as lat",
        "9.85 + (cast(conv(substring(md5(concat('y', id)), 1, 15), 16, 10) as bigint) / 1152921504606846976.0e0) * 0.5e0 as lon",
    )
    hits = pts.where(F.expr(geo.point_in_polygon("lat", "lon", pl, SPARK))).select(
        F.expr(geo.quad_cell("lat", "lon", res, SPARK)).alias("cell")
    )
    cover = set(row.refined)
    n_hits = 0
    for r in hits.collect():
        assert r.cell in cover
        n_hits += 1
    assert n_hits > 0


def test_salted_join_matches_plain_join(spark):
    facts = spark.range(2000).selectExpr(
        "id as row_id", "case when id % 10 = 0 then 42 else id % 97 end as cell"
    )
    dims = spark.range(97).selectExpr("id as cell", "concat('zone-', id) as zone")
    plain = facts.join(dims, "cell").select("row_id", "zone")
    salted = skew.salted_join(facts, dims, "cell", salts=4, row_key="row_id").select(
        "row_id", "zone"
    )
    assert set(map(tuple, plain.collect())) == set(map(tuple, salted.collect()))
    # left join preserves misses
    facts2 = facts.withColumn("cell", F.col("cell") + 1000)  # no matches
    lsalt = skew.salted_join(facts2, dims, "cell", salts=4, row_key="row_id", how="left")
    assert lsalt.where("zone is not null").count() == 0
    assert lsalt.count() == 2000


def test_top_heavy_keys(spark):
    facts = spark.range(1000).selectExpr("case when id < 500 then 7 else id end as cell")
    hot = skew.top_heavy_keys(facts, "cell", threshold=100).collect()
    assert len(hot) == 1 and hot[0].cell == 7


def test_cli_job_documents(spark, corpus, tmp_path):
    from osm_to_netex_spark.plans import job
    from osm_to_netex_spark.sources import documents as docs_src

    src = str(tmp_path / "docs_in")
    docs_src.write_documents(corpus, src)
    out = str(tmp_path / "warehouse")
    xml = str(tmp_path / "out.xml")
    res = job.main(
        [
            "--input", src,
            "--target", "TariffZone",
            "--output", out,
            "--xml-out", xml,
            "--run-tag", "t1",
            "--cores", "4",
        ]
    )
    assert res["n_zones"] == 12
    assert res["zones_snapshot"] and res["tiles_snapshot"]
    content = open(xml).read()
    assert "<TariffZone version=" in content and "gml:posList" in content


def test_cli_job_osm_xml(spark, tmp_path):
    from osm_to_netex_spark.plans import job

    out = str(tmp_path / "wh2")
    res = job.main(
        [
            "--input", SMALLOSM,
            "--input-format", "osm-xml",
            "--target", "TariffZone",
            "--output", out,
            "--cores", "4",
        ]
    )
    assert res["n_zones"] == 1


def test_flagship_observation_covers_all_nodes(spark, tmp_path):
    """The bench flagship folds the tile-assign checksum into the PIP node
    scan as a CollectMetrics observation; the stop-point filter must stay
    ABOVE it, so the observed row count equals the full node count (every
    node's six cells are actually computed).  The corpus mix is derived
    from n_docs, so the stored corpus holds exactly n_docs documents."""
    import bench
    from osm_to_netex_spark.operators import extract
    from osm_to_netex_spark.sources import documents as docs_src

    path = str(tmp_path / "flag")
    bench.prepare_corpus(spark, path, n_docs=2000)
    assert docs_src.read_documents(spark, path).count() == 2000
    df, obs, cached = bench.build_flagship(spark, path)
    rows = df.collect()
    n_nodes = extract.extract_nodes(docs_src.read_documents(spark, path)).count()
    assert obs.get["n"] == n_nodes
    assert obs.get["chk"] is not None
    cached.unpersist()
    assert rows[0]["n"] > 0  # PIP found matches


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Two tables bucketed by the same key/count must join with no Exchange
    on either side (the write-time shuffle is amortized over every later
    join on that key)."""
    import contextlib
    import io

    from osm_to_netex_spark.sources.layout import write_bucketed

    import shutil

    spark.sql("drop table if exists bkt_points")
    spark.sql("drop table if exists bkt_index")
    # a killed prior run can leave the managed-table location behind after the
    # catalog entry is gone; saveAsTable then fails LOCATION_ALREADY_EXISTS
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("bkt_points", "bkt_index"):
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    pts = spark.range(0, 1000).selectExpr("id", "id % 97 as cell_id", "rand(7) as v")
    idx = spark.range(0, 97).selectExpr("id as cell_id", "concat('z', id) as zone")
    write_bucketed(pts, "bkt_points", ["cell_id"], n_buckets=8, sort_cols=["cell_id"])
    write_bucketed(idx, "bkt_index", ["cell_id"], n_buckets=8, sort_cols=["cell_id"])

    joined = (
        spark.table("bkt_points")
        .hint("merge")  # force SMJ so the bucketing (not a broadcast) is what's tested
        .join(spark.table("bkt_index"), "cell_id")
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        joined.explain("formatted")
    plan = buf.getvalue()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    assert joined.count() == 1000


def test_zorder_layout_enables_file_pruning(spark, tmp_path):
    """Z-ordered write must make box queries file-prunable: for a small box,
    few files' footer stat-ranges intersect; a round-robin write of the same
    rows leaves (nearly) every file overlapping every box.  Also pins that
    both layouts hold identical rows."""
    from osm_to_netex_spark.sources import layout

    pts = spark.range(0, 60000).selectExpr(
        "id as point_id",
        # deterministic world-spread points (portable-hash-free: plain math)
        "(-80.0 + (id * 37 % 1600) / 10.0) as lat",
        "(-179.0 + (id * 101 % 3580) / 10.0) as lon",
    )
    zpath, rpath = str(tmp_path / "zord"), str(tmp_path / "rr")
    layout.write_zordered(pts, zpath, res=12, n_files=32)
    pts.withColumn(
        "z", F.expr(layout.zorder_expr("lat", "lon", 12, SPARK))
    ).repartition(32).write.mode("overwrite").parquet(rpath)

    box = (10.0, 20.0, 30.0, 45.0)  # ~1.4% of the world's area
    zstats = layout.file_stat_ranges(zpath, ("lat", "lon"))
    rstats = layout.file_stat_ranges(rpath, ("lat", "lon"))
    z_hit = len(layout.files_overlapping_box(zstats, *box))
    r_hit = len(layout.files_overlapping_box(rstats, *box))
    assert len(zstats) >= 16 and len(rstats) >= 16
    assert r_hit == len(rstats)  # unclustered: every file overlaps the box
    assert z_hit <= len(zstats) // 4  # clustered: the box touches few files

    # identical content either way
    a = spark.read.parquet(zpath).selectExpr("point_id", "lat", "lon")
    b = spark.read.parquet(rpath).selectExpr("point_id", "lat", "lon")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    # and Spark's own scan prunes row groups: filtered count is correct
    n_box = (
        spark.read.parquet(zpath)
        .where(f"lat between {box[0]} and {box[1]} and lon between {box[2]} and {box[3]}")
        .count()
    )
    assert n_box == pts.where(
        f"lat between {box[0]} and {box[1]} and lon between {box[2]} and {box[3]}"
    ).count()
