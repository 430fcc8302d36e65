"""Equality deletes and MERGE INTO (merge-on-read): sequence-scoped key
tombstones, same-snapshot upsert visibility, time travel, compaction
materialization."""

import pytest

from osm_to_netex_spark.sources.catalog import SnapshotCatalog


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_delete_keys_masks_without_rewrite(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path))
    df = spark.createDataFrame(
        [(i, f"u{i % 3}") for i in range(12)], "id: long, user_id: string"
    )
    s1 = cat.commit(df, "t", mode="overwrite")
    res = cat.delete_keys("t", spark.createDataFrame([("u1",)], "user_id: string"))
    assert res["n_keys"] == 1
    live = cat.read("t")
    assert live.where("user_id = 'u1'").count() == 0
    assert live.count() == 8
    # no data file rewritten: the delete snapshot shares the parent's dirs
    snaps = cat.snapshots("t")
    assert cat.current_snapshot("t")["data_dirs"] == snaps[0]["data_dirs"]
    # time travel to the parent still sees every row
    assert cat.read("t", snapshot_id=s1).count() == 12


def test_delete_is_sequence_scoped(spark, tmp_path):
    """A later append may re-insert a deleted key — the old tombstone must
    not mask the new rows (Iceberg v2 sequence semantics)."""
    cat = SnapshotCatalog(spark, str(tmp_path))
    cat.commit(
        spark.createDataFrame([(1, "a"), (2, "b")], "id: long, k: string"),
        "t", mode="overwrite",
    )
    cat.delete_keys("t", spark.createDataFrame([("a",)], "k: string"))
    assert _rows(cat.read("t")) == [(2, "b")]
    cat.commit(
        spark.createDataFrame([(3, "a")], "id: long, k: string"), "t", mode="append"
    )
    assert _rows(cat.read("t")) == [(2, "b"), (3, "a")]


def test_delete_keys_rejects_unknown_column(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path))
    cat.commit(spark.range(3).toDF("id"), "t", mode="overwrite")
    with pytest.raises(ValueError):
        cat.delete_keys("t", spark.createDataFrame([("x",)], "nope: string"))


def test_merge_into_upsert(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path))
    cat.commit(
        spark.createDataFrame(
            [("a", 1), ("b", 2), ("c", 3)], "k: string, v: long"
        ),
        "t", mode="overwrite",
    )
    res = cat.merge_into(
        spark.createDataFrame([("b", 20), ("d", 40)], "k: string, v: long"),
        "t", key_cols=["k"],
    )
    assert res["n_appended"] == 2
    assert _rows(cat.read("t")) == [("a", 1), ("b", 20), ("c", 3), ("d", 40)]


def test_merge_into_delete_mode(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path))
    cat.commit(
        spark.createDataFrame([("a", 1), ("b", 2)], "k: string, v: long"),
        "t", mode="overwrite",
    )
    cat.merge_into(
        spark.createDataFrame([("b", 99), ("e", 5)], "k: string, v: long"),
        "t", key_cols=["k"], when_matched="delete",
    )
    # b vanishes (matched), e inserts (unmatched); b's source row is NOT kept
    assert _rows(cat.read("t")) == [("a", 1), ("e", 5)]


def test_merge_chain_last_wins(spark, tmp_path):
    """A second merge's tombstone must mask the first merge's upsert."""
    cat = SnapshotCatalog(spark, str(tmp_path))
    cat.commit(
        spark.createDataFrame([("a", 1)], "k: string, v: long"), "t", mode="overwrite"
    )
    cat.merge_into(
        spark.createDataFrame([("a", 2)], "k: string, v: long"), "t", ["k"]
    )
    cat.merge_into(
        spark.createDataFrame([("a", 3)], "k: string, v: long"), "t", ["k"]
    )
    assert _rows(cat.read("t")) == [("a", 3)]


def test_merge_into_empty_table_creates(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path))
    res = cat.merge_into(
        spark.createDataFrame([("a", 1)], "k: string, v: long"), "t", ["k"]
    )
    assert res.get("created") and _rows(cat.read("t")) == [("a", 1)]


def test_compact_materializes_eq_deletes(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path))
    cat.commit(
        spark.createDataFrame([("a", 1), ("b", 2)], "k: string, v: long"),
        "t", mode="overwrite",
    )
    cat.merge_into(
        spark.createDataFrame([("a", 10)], "k: string, v: long"), "t", ["k"]
    )
    res = cat.compact("t")
    assert res["compacted"]
    meta = cat.current_snapshot("t")
    assert not meta.get("eq_deletes")
    assert _rows(cat.read("t")) == [("a", 10), ("b", 2)]


def test_scan_applies_eq_deletes(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path))
    cat.commit(
        spark.createDataFrame(
            [(i, f"k{i}") for i in range(10)], "id: long, k: string"
        ),
        "t", mode="overwrite",
    )
    cat.delete_keys("t", spark.createDataFrame([("k3",)], "k: string"))
    got = cat.scan("t", "id", 0, 5)
    assert _rows(got.select("id")) == [(0,), (1,), (2,), (4,), (5,)]


def test_staged_append_keeps_key_deleted(spark, tmp_path):
    """A staged append carries the table's equality deletes: the deleted
    key stays masked on the audit read and after publish."""
    cat = SnapshotCatalog(spark, str(tmp_path))
    cat.commit(
        spark.createDataFrame([(1, "a"), (2, "b")], "id: long, k: string"),
        "t", mode="overwrite",
    )
    cat.delete_keys("t", spark.createDataFrame([("a",)], "k: string"))
    sid = cat.stage(spark.createDataFrame([(3, "c")], "id: long, k: string"), "t")
    assert _rows(cat.read("t", sid)) == [(2, "b"), (3, "c")]
    cat.publish("t", sid)
    assert _rows(cat.read("t")) == [(2, "b"), (3, "c")]
