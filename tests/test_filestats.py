"""Manifest-style file stats + range-scan file skipping: disjoint appends
prune to one file set, results equal the unpruned filter, conservative on
null stats, delete vectors still apply, partitioned multi-dir tables read
per data dir."""

from urllib.parse import unquote, urlparse

from osm_to_netex_spark.sources.catalog import SnapshotCatalog


def _table(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path))
    # three appends with disjoint id ranges, one file each
    cat.commit(spark.range(0, 100).coalesce(1).toDF("id"), "t", mode="overwrite")
    cat.commit(spark.range(100, 200).coalesce(1).toDF("id"), "t", mode="append")
    cat.commit(spark.range(200, 300).coalesce(1).toDF("id"), "t", mode="append")
    return cat


def test_prune_selects_only_overlapping_files(spark, tmp_path):
    cat = _table(spark, tmp_path)
    stats = cat.collect_file_stats("t", ["id"])
    assert len(stats["files"]) == 3
    files, total = cat.prune_files("t", "id", 120, 130)
    assert total == 3 and len(files) == 1
    # boundary-straddling range touches two files
    files2, _ = cat.prune_files("t", "id", 95, 105)
    assert len(files2) == 2
    # out-of-range probe prunes everything
    files3, _ = cat.prune_files("t", "id", 1000, 2000)
    assert files3 == []


def test_scan_equals_unpruned_filter(spark, tmp_path):
    cat = _table(spark, tmp_path)
    got = sorted(r.id for r in cat.scan("t", "id", 120, 130).collect())
    want = sorted(
        r.id for r in cat.read("t").where("id between 120 and 130").collect()
    )
    assert got == want == list(range(120, 131))
    # empty result keeps the schema and returns zero rows
    assert cat.scan("t", "id", 1000, 2000).count() == 0


def test_scan_applies_delete_vectors(spark, tmp_path):
    cat = _table(spark, tmp_path)
    cat.delete_where("t", "id in (125, 126)")
    got = sorted(r.id for r in cat.scan("t", "id", 120, 130).collect())
    assert got == [120, 121, 122, 123, 124, 127, 128, 129, 130]


def test_partitioned_multi_dir_stats_and_scan(spark, tmp_path):
    """Two appends under one partition spec are two data dirs, each its own
    partition root: stats cover every file `files` lists and the pruned scan
    equals the filtered read."""
    cat = SnapshotCatalog(spark, str(tmp_path))
    spec = [{"col": "k", "transform": "identity"}]
    df = spark.range(0, 100).selectExpr("id", "id % 3 as k")
    cat.commit(df.where("id < 50"), "t", mode="overwrite", partition_spec=spec)
    cat.commit(df.where("id >= 50"), "t", mode="append")
    stats = cat.collect_file_stats("t", ["id"])
    listed = {r.file_path for r in cat.files("t").collect()}
    assert {unquote(urlparse(fp).path) for fp in stats["files"]} == listed
    got = sorted((r.id, r.k) for r in cat.scan("t", "id", 0, 25).collect())
    want = sorted(
        (r.id, r.k) for r in cat.read("t").where("id between 0 and 25").collect()
    )
    assert got == want == [(i, i % 3) for i in range(26)]


def test_null_stats_are_conservative(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path))
    df = spark.createDataFrame(
        [(None,), (None,)], "v: int"
    ).coalesce(1)
    cat.commit(df, "t", mode="overwrite")
    cat.commit(
        spark.createDataFrame([(5,), (7,)], "v: int").coalesce(1), "t", mode="append"
    )
    files, total = cat.prune_files("t", "v", 100, 200)
    # the all-null file cannot be ruled out; the [5,7] file can
    assert total == 2 and len(files) == 1


def test_zrange_file_skipping_end_to_end(spark, tmp_path):
    """zorder_ranges → footer stats → skip list: a Z-ordered layout written
    by write_zordered must let a polygon's z-ranges skip files, and the
    files kept must contain EVERY row whose zkey falls in a range."""
    from pyspark.sql import functions as F

    from osm_to_netex_spark.sources import layout

    pts = spark.sql(
        "select id as point_id, "
        "59.4 + (id % 97) / 97.0e0 * 0.8e0 as lat, "
        "9.6  + (id % 89) / 89.0e0 * 1.0e0 as lon "
        "from range(4000) t(id)"
    )
    out = str(tmp_path / "zordered")
    keyed = pts.withColumn(
        "zkey", F.expr(layout.zorder_expr("lat", "lon", 9, "spark"))
    )
    keyed.repartitionByRange(8, "zkey").sortWithinPartitions("zkey").write.parquet(out)
    stats = layout.file_stat_ranges(out, ("zkey",))
    assert len(stats) >= 4

    # a small query window in z-space: two disjoint ranges
    zs = sorted(int(r["zkey"]) for r in keyed.select("zkey").collect())
    zranges = [(zs[10], zs[60]), (zs[2000], zs[2050])]
    hit = layout.files_overlapping_zranges(stats, zranges)
    assert 0 < len(hit) < len(stats)  # some files genuinely skipped
    hit_files = {s["file"] for s in hit}
    # completeness: every row in a range lives in a kept file
    import os

    import pyarrow.parquet as pq

    for f in os.listdir(out):
        if not f.endswith(".parquet"):
            continue
        tbl = pq.read_table(os.path.join(out, f), columns=["zkey"])
        vals = [v.as_py() for v in tbl["zkey"]]
        in_range = [v for v in vals if any(a <= v <= b for a, b in zranges)]
        if in_range:
            assert f in hit_files
