"""Market-basket pairs and token drift — brute-force-checked edge cases."""

from pyspark.sql import Row

from osm_to_netex_spark.operators import basket


def _lines(spark, rows):
    return spark.createDataFrame([Row(l_orderkey=o, l_partkey=p) for o, p in rows])


def test_frequent_pairs_counts_and_lift(spark):
    # pair (1,2) in baskets 10,11,12 -> support 3; (1,3) only twice -> dropped
    rows = [(10, 1), (10, 2), (11, 1), (11, 2), (12, 1), (12, 2),
            (13, 1), (13, 3), (14, 1), (14, 3), (14, 3)]  # dup line: no inflation
    got = basket.frequent_pairs(_lines(spark, rows), min_support=3).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["item_a"], r["item_b"], r["support"]) == (1, 2, 3)
    # lift = support*n_baskets/(s1*s2) = 3*5/(5*3) = 1.0 -> 1e9 quantized
    assert r["lift_q9"] == 1_000_000_000


def test_frequent_pairs_apriori_prunes_rare_items(spark):
    # item 9 appears twice (< minsup): pairs touching it can never qualify
    rows = [(1, 1), (1, 9), (2, 1), (2, 9), (3, 1), (3, 2), (4, 1), (4, 2),
            (5, 1), (5, 2)]
    got = basket.frequent_pairs(_lines(spark, rows), min_support=3).collect()
    assert {(r["item_a"], r["item_b"]) for r in got} == {(1, 2)}


def test_token_drift_zero_when_identical(spark):
    # two sources with the exact same token multiset -> chi2 == 0 exactly
    docs = spark.createDataFrame(
        [Row(doc_id=i, source=f"s{i % 2}", text="a b b c", lang="en",
             n_chars=7) for i in range(8)]
    )
    docs.createOrReplaceTempView("documents")
    from osm_to_netex_spark.plans.queries.text import _token_drift_sql
    from osm_to_netex_spark.functions.portable import SPARK

    rows = spark.sql(_token_drift_sql(SPARK)).collect()
    assert len(rows) == 2 and all(r["chi2_q9"] == 0 for r in rows)


def test_sssp_rounds_monotone(spark):
    from osm_to_netex_spark.operators import graph

    docs = spark.range(0, 300).selectExpr("id as doc_id")
    d2 = {r["doc_id"]: r["dist"] for r in graph.sssp(spark, docs, n_rounds=2, source_mod=100).collect()}
    d4 = {r["doc_id"]: r["dist"] for r in graph.sssp(spark, docs, n_rounds=4, source_mod=100).collect()}
    # sources stay at 0; labels never increase with more rounds; reach grows
    assert d2[0] == 0 and d4[0] == 0 and d4[100] == 0 and d4[200] == 0
    assert set(d2) <= set(d4)
    assert all(d4[k] <= v for k, v in d2.items())
