"""Column profiler: known stats on a hand-built table, single-scan plan."""

from osm_to_netex_spark.functions.portable import SPARK
from osm_to_netex_spark.operators import curation


def test_profile_known_values(spark):
    spark.createDataFrame(
        [(1, 2.0, "a"), (2, None, "b"), (3, 4.0, "a"), (None, 8.0, None)],
        "id: long, v: double, s: string",
    ).createOrReplaceTempView("prof_t")
    got = {
        r["col"]: r
        for r in spark.sql(curation.profile_sql(SPARK, "prof_t", ["id", "v"], ["s"])).collect()
    }
    assert got["id"]["n_rows"] == 4 and got["id"]["n_null"] == 1
    assert got["id"]["n_distinct"] == 3
    assert got["id"]["min_num"] == 1.0 and got["id"]["max_num"] == 3.0
    assert got["v"]["n_null"] == 1 and got["v"]["min_num"] == 2.0
    assert got["v"]["max_num"] == 8.0
    assert got["s"]["n_null"] == 1 and got["s"]["n_distinct"] == 2
    # string extremes are the portable content-hash fingerprint: present,
    # deterministic, ordered
    assert got["s"]["min_num"] is not None
    assert got["s"]["min_num"] <= got["s"]["max_num"]


def test_profile_is_single_scan(spark):
    spark.range(100).selectExpr(
        "id", "cast(id % 7 as double) as v", "cast(id % 3 as string) as s"
    ).createOrReplaceTempView("prof_scan")
    df = spark.sql(curation.profile_sql(SPARK, "prof_scan", ["id", "v"], ["s"]))
    plan = df._jdf.queryExecution().executedPlan().toString()
    # one Range source feeding an Expand (the count-distinct rewrite), never
    # k separate scans unioned
    assert plan.count("Range (0, 100") <= 1 or plan.count("Expand") >= 1
