"""Branches & tags on the snapshot catalog: isolation, fast-forward,
divergence rejection, tag immutability, retention protection."""

import pytest

from osm_to_netex_spark.sources.catalog import SnapshotCatalog


def test_branch_isolation_and_fast_forward(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path))
    cat.commit(spark.range(10).toDF("id"), "t", mode="overwrite")
    cat.create_branch("t", "backfill")
    cat.commit_to_branch(spark.range(10, 25).toDF("id"), "t", "backfill")

    # main is untouched; the branch sees its own lineage
    assert cat.read("t").count() == 10
    assert cat.read_ref("t", "backfill").count() == 25

    # fast-forward promotes the head atomically
    cat.fast_forward("t", "backfill")
    assert cat.read("t").count() == 25
    # a second branch commit + ff keeps working (fork point advanced)
    cat.commit_to_branch(spark.range(25, 30).toDF("id"), "t", "backfill")
    cat.fast_forward("t", "backfill")
    assert cat.read("t").count() == 30


def test_fast_forward_rejected_on_divergence(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path))
    cat.commit(spark.range(5).toDF("id"), "t", mode="overwrite")
    cat.create_branch("t", "exp")
    cat.commit_to_branch(spark.range(5, 8).toDF("id"), "t", "exp")
    cat.commit(spark.range(100, 103).toDF("id"), "t", mode="append")  # main moves
    with pytest.raises(ValueError, match="diverged"):
        cat.fast_forward("t", "exp")
    # main unharmed
    assert cat.read("t").count() == 8


def test_tag_is_immutable_and_pins_history(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path))
    cat.commit(spark.range(7).toDF("id"), "t", mode="overwrite")
    cat.create_tag("t", "run-1")
    cat.commit(spark.range(100).toDF("id"), "t", mode="overwrite")
    assert cat.read_ref("t", "run-1").count() == 7
    with pytest.raises(ValueError, match="tag"):
        cat.commit_to_branch(spark.range(1).toDF("id"), "t", "run-1")
    with pytest.raises(ValueError, match="exists"):
        cat.create_tag("t", "run-1")


def test_tagged_snapshot_survives_expiry(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path))
    cat.commit(spark.range(7).toDF("id"), "t", mode="overwrite")
    cat.create_tag("t", "keepme")
    cat.commit(spark.range(9).toDF("id"), "t", mode="overwrite")
    cat.commit(spark.range(11).toDF("id"), "t", mode="overwrite")
    res = cat.expire_snapshots("t", keep_last=1)
    # the middle overwrite's dir is deleted, the tagged one is protected
    assert res["deleted_dirs"] == 1
    assert cat.read_ref("t", "keepme").count() == 7
    assert cat.read("t").count() == 11


def test_branch_commit_keeps_key_deleted(spark, tmp_path):
    """A branch append carries the fork's equality deletes: the deleted key
    stays masked on the branch read and after fast-forward."""
    cat = SnapshotCatalog(spark, str(tmp_path))
    cat.commit(
        spark.createDataFrame([(1, "a"), (2, "b")], "id: long, k: string"),
        "t", mode="overwrite",
    )
    cat.delete_keys("t", spark.createDataFrame([("a",)], "k: string"))
    cat.create_branch("t", "fix")
    cat.commit_to_branch(
        spark.createDataFrame([(3, "c")], "id: long, k: string"), "t", "fix"
    )
    rows = [(2, "b"), (3, "c")]
    assert sorted(tuple(r) for r in cat.read_ref("t", "fix").collect()) == rows
    cat.fast_forward("t", "fix")
    assert sorted(tuple(r) for r in cat.read("t").collect()) == rows
