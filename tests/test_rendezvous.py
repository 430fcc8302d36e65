"""HRW sharding: minimal movement on shard add/remove, balance, order
independence."""

from osm_to_netex_spark.functions.portable import SPARK
from osm_to_netex_spark.operators import sampling


def _assign(spark, shards, n=600):
    spark.range(n).selectExpr("id as doc_id").createOrReplaceTempView("hrw_t")
    return {
        r["doc_id"]: r["shard"]
        for r in spark.sql(sampling.rendezvous_sql(SPARK, shards, table="hrw_t")).collect()
    }


def test_add_shard_moves_only_to_new(spark):
    before = _assign(spark, ["a", "b", "c"])
    after = _assign(spark, ["a", "b", "c", "d"])
    moved = {k for k in before if before[k] != after[k]}
    # every moved key moved TO the new shard, never between old shards
    assert all(after[k] == "d" for k in moved)
    # roughly 1/4 of keys move (binomial around 150 of 600)
    assert 90 <= len(moved) <= 220


def test_remove_shard_moves_only_its_keys(spark):
    before = _assign(spark, ["a", "b", "c"])
    after = _assign(spark, ["a", "b"])
    for k in before:
        if before[k] != "c":
            assert after[k] == before[k]
        else:
            assert after[k] in ("a", "b")


def test_shard_list_order_irrelevant(spark):
    assert _assign(spark, ["a", "b", "c"]) == _assign(spark, ["c", "a", "b"])


def test_reasonable_balance(spark):
    got = _assign(spark, ["a", "b", "c"])
    from collections import Counter

    c = Counter(got.values())
    assert len(c) == 3
    assert max(c.values()) < 2 * min(c.values())
