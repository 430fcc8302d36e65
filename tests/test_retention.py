"""Snapshot retention: expire keeps time travel in the window, frees the rest."""

import os

from osm_to_netex_spark.sources.catalog import SnapshotCatalog


def test_expire_snapshots(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path))
    s1 = cat.commit(spark.range(10).toDF("id"), "t", mode="overwrite")
    s2 = cat.commit(spark.range(10, 15).toDF("id"), "t", mode="append")
    s3 = cat.commit(spark.range(15, 18).toDF("id"), "t", mode="append")

    res = cat.expire_snapshots("t", keep_last=2)
    assert res["expired_versions"] == 1 and res["surviving_versions"] == 2
    # v1's data dir is still referenced by the append-lineage survivors →
    # nothing deleted
    assert res["deleted_dirs"] == 0
    assert cat.read("t").count() == 18
    assert cat.read("t", snapshot_id=s2).count() == 15
    # the expired snapshot is no longer addressable
    try:
        cat.read("t", snapshot_id=s1)
        raise AssertionError("expired snapshot still readable")
    except FileNotFoundError:
        pass


def test_expire_deletes_unreferenced_dirs(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path))
    cat.commit(spark.range(5).toDF("id"), "t", mode="overwrite")
    cat.commit(spark.range(7).toDF("id"), "t", mode="overwrite")  # orphanizes v0's dir
    snap_root = tmp_path / "t" / "snapshots"
    assert len(os.listdir(snap_root)) == 2
    res = cat.expire_snapshots("t", keep_last=1)
    assert res["deleted_dirs"] == 1
    assert len(os.listdir(snap_root)) == 1
    assert cat.read("t").count() == 7


def test_expire_keeps_staged_dirs_and_drops_eq_deletes(spark, tmp_path):
    """Expiry protects what a pending staged snapshot reads and reclaims
    the equality-delete dirs only expired snapshots referenced."""
    cat = SnapshotCatalog(spark, str(tmp_path))
    schema = "id: long, k: string"
    cat.commit(spark.createDataFrame([(1, "a"), (2, "b")], schema), "t", mode="overwrite")
    sid = cat.stage(spark.createDataFrame([(3, "c")], schema), "t")
    cat.delete_keys("t", spark.createDataFrame([("a",)], "k: string"))
    eq_dir = cat.current_snapshot("t")["eq_deletes"][0]["dir"]
    cat.commit(spark.createDataFrame([(9, "z")], schema), "t", mode="overwrite")

    res = cat.expire_snapshots("t", keep_last=1)
    assert res["expired_versions"] == 2 and res["deleted_dirs"] == 1
    assert not os.path.exists(eq_dir)
    # the pending audit still reads its candidate: the first commit's rows
    # plus its own
    got = sorted(tuple(r) for r in cat.read("t", sid).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]
    assert [tuple(r) for r in cat.read("t").collect()] == [(9, "z")]
