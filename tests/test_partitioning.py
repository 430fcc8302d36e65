"""Hidden partitioning + metadata-only count: layout transforms, directory
pruning visible in the physical plan, spec enforcement, delete interplay."""

import pytest

from osm_to_netex_spark.sources.catalog import SnapshotCatalog


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _docs(spark, n=40):
    return spark.createDataFrame(
        [(i, f"s{i % 4}", i * 10) for i in range(n)],
        "doc_id: long, source: string, val: long",
    )


def test_identity_partition_roundtrip_and_prune(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path))
    spec = [{"transform": "identity", "col": "source"}]
    cat.commit(_docs(spark), "t", mode="overwrite", partition_spec=spec)
    # readers never see the derived column
    assert sorted(cat.read("t").columns) == ["doc_id", "source", "val"]
    assert cat.read("t").count() == 40
    pruned = cat.scan_partitions("t", "source", "s2")
    assert pruned.count() == 10
    assert pruned.where("source <> 's2'").count() == 0
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "__p_identity_source" in plan


def test_bucket_partition_prunes_correctly(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path))
    spec = [{"transform": "bucket", "col": "doc_id", "n": 4}]
    cat.commit(_docs(spark), "t", mode="overwrite", partition_spec=spec)
    got = cat.scan_partitions("t", "doc_id", 17)
    assert _rows(got) == [(17, "s1", 170)]


def test_append_must_reuse_spec(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path))
    spec = [{"transform": "identity", "col": "source"}]
    cat.commit(_docs(spark), "t", mode="overwrite", partition_spec=spec)
    # append with no spec inherits the active one
    cat.commit(_docs(spark, 8), "t", mode="append")
    assert cat.read("t").count() == 48
    with pytest.raises(ValueError):
        cat.commit(
            _docs(spark, 4), "t", mode="append",
            partition_spec=[{"transform": "bucket", "col": "doc_id", "n": 2}],
        )


def test_scan_partitions_fallback_unpartitioned_col(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path))
    spec = [{"transform": "identity", "col": "source"}]
    cat.commit(_docs(spark), "t", mode="overwrite", partition_spec=spec)
    got = cat.scan_partitions("t", "val", 250)
    assert _rows(got) == [(25, "s1", 250)]


def test_count_rows_metadata_only(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path))
    cat.commit(_docs(spark), "t", mode="overwrite")
    cat.commit(_docs(spark, 5), "t", mode="append")
    assert cat.count_rows("t") == 45
    cat.delete_where("t", "val >= 100")
    # 40-doc batch loses docs 10..39 (30), 5-doc batch loses none
    assert cat.count_rows("t") == cat.read("t").count() == 15
    # equality deletes force the exact-scan fallback — still correct
    cat.delete_keys("t", spark.createDataFrame([("s1",)], "source: string"))
    assert cat.count_rows("t") == cat.read("t").count()


def test_partitioned_delete_interplay(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path))
    spec = [{"transform": "identity", "col": "source"}]
    cat.commit(_docs(spark), "t", mode="overwrite", partition_spec=spec)
    cat.delete_where("t", "doc_id < 8")
    got = cat.scan_partitions("t", "source", "s1")
    assert _rows(got.selectExpr("doc_id")) == [(9,), (13,), (17,), (21,), (25,), (29,), (33,), (37,)]


def test_merge_into_preserves_partition_layout(spark, tmp_path):
    """ADVICE r02: merge_into must derive the __p_* directory columns from
    the active spec — a later scan_partitions over the merged dir used to
    crash with UNRESOLVED_COLUMN."""
    cat = SnapshotCatalog(spark, str(tmp_path))
    spec = [{"transform": "identity", "col": "source"}]
    cat.commit(_docs(spark), "t", mode="overwrite", partition_spec=spec)
    src = spark.createDataFrame(
        [(1, "s1", 999), (100, "s2", 1000)],
        "doc_id: long, source: string, val: long",
    )
    cat.merge_into(src, "t", key_cols=["doc_id"])
    pruned = cat.scan_partitions("t", "source", "s2")
    assert pruned.where("doc_id = 100").count() == 1  # merged row visible
    assert pruned.count() == 11
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "__p_identity_source" in plan
    # upserted row replaced, not duplicated
    assert cat.read("t").where("doc_id = 1").count() == 1
    assert cat.read("t").where("doc_id = 1").collect()[0]["val"] == 999


def test_day_partition_prunes(spark, tmp_path):
    """ADVICE r02: the 'day' transform needs a driver-side replica so
    scan_partitions can prune instead of raising."""
    import datetime

    cat = SnapshotCatalog(spark, str(tmp_path))
    df = spark.createDataFrame(
        [
            (i, datetime.datetime(2024, 1, 1 + (i % 3), 10 + i % 8, 30), i)
            for i in range(30)
        ],
        "doc_id: long, ts: timestamp, val: long",
    )
    spec = [{"transform": "day", "col": "ts"}]
    cat.commit(df, "t", mode="overwrite", partition_spec=spec)
    pruned = cat.scan_partitions("t", "ts", datetime.datetime(2024, 1, 2, 14, 0))
    # equality on the SOURCE column post-filter: only exact-ts rows survive,
    # but the directory filter must appear in the plan (day-level pruning)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "__p_day_ts" in plan
    # a day-level value (midnight) returns that day's rows
    day2 = cat.scan_partitions("t", "ts", datetime.datetime(2024, 1, 2, 11, 30))
    assert day2.count() == df.where(
        "ts = timestamp'2024-01-02 11:30:00'"
    ).count() > 0


def test_staged_append_keeps_partition_spec(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path))
    spec = [{"transform": "identity", "col": "source"}]
    cat.commit(_docs(spark), "t", mode="overwrite", partition_spec=spec)
    sid = cat.stage(_docs(spark, 8), "t")
    assert cat.read("t", sid).count() == 48
    cat.publish("t", sid)
    assert cat.current_snapshot("t")["partition_spec"] == spec
    assert sorted(cat.read("t").columns) == ["doc_id", "source", "val"]
    assert cat.read("t").count() == 48
    assert cat.scan_partitions("t", "source", "s2").count() == 12


def test_branch_append_keeps_partition_spec(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path))
    spec = [{"transform": "identity", "col": "source"}]
    cat.commit(_docs(spark), "t", mode="overwrite", partition_spec=spec)
    cat.create_branch("t", "b")
    cat.commit_to_branch(_docs(spark, 8), "t", "b")
    assert cat.refs("t")["b"]["meta"]["partition_spec"] == spec
    assert cat.read_ref("t", "b").count() == 48
    cat.fast_forward("t", "b")
    assert cat.scan_partitions("t", "source", "s2").count() == 12


def test_read_as_of_timestamp(spark, tmp_path):
    import time as _t

    cat = SnapshotCatalog(spark, str(tmp_path))
    cat.commit(_docs(spark, 10), "t", mode="overwrite")
    t1 = int(_t.time() * 1000)
    _t.sleep(0.02)
    cat.commit(_docs(spark, 5), "t", mode="append")
    assert cat.read_as_of("t", t1).count() == 10
    assert cat.read_as_of("t", int(_t.time() * 1000) + 10).count() == 15
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        cat.read_as_of("t", 1)
