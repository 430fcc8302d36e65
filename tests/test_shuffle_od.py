"""Deterministic corpus shuffle (permutation + invariance) and OD-matrix
k-anonymity suppression semantics."""

from osm_to_netex_spark.functions.portable import SPARK
from osm_to_netex_spark.operators import sampling, trajectory


def test_shuffle_is_a_permutation_and_partition_invariant(spark):
    docs = spark.range(500).toDF("doc_id")
    out = sampling.corpus_shuffle(docs, n_buckets=16)
    rows = out.collect()
    assert sorted(r.global_pos for r in rows) == list(range(500))
    # same permutation regardless of input partitioning
    again = {
        r.doc_id: r.global_pos
        for r in sampling.corpus_shuffle(docs.repartition(13), n_buckets=16).collect()
    }
    assert again == {r.doc_id: r.global_pos for r in rows}
    # position order is exactly (bucket, key, id): buckets form contiguous runs
    by_pos = sorted(rows, key=lambda r: r.global_pos)
    buckets = [r.bucket for r in by_pos]
    assert buckets == sorted(buckets)


def test_shuffle_different_salt_different_order(spark):
    docs = spark.range(200).toDF("doc_id")
    a = {r.doc_id: r.global_pos
         for r in sampling.corpus_shuffle(docs, 16, salt="epoch:1").collect()}
    b = {r.doc_id: r.global_pos
         for r in sampling.corpus_shuffle(docs, 16, salt="epoch:2").collect()}
    assert a != b and sorted(a.values()) == sorted(b.values())


def test_od_matrix_suppression(spark):
    # 3 trajs share one OD flow (survives k=2); 1 rare flow is suppressed
    # into the (-1, -1) audit row; totals reconcile
    rows = []
    for t in range(3):
        rows += [(t, 0, 0.01, 0.01), (t, 1, 0.5, 0.5), (t, 2, 1.0, 1.0)]
    rows += [(9, 0, 5.0, 5.0), (9, 1, 6.0, 6.0)]
    spark.createDataFrame(
        rows, ["traj_id", "step", "lat", "lon"]
    ).createOrReplaceTempView("od_traj")
    try:
        out = spark.sql(
            trajectory.od_matrix_sql(SPARK, res=10, k_anon=2, traj_table="od_traj")
        ).collect()
    finally:
        spark.catalog.dropTempView("od_traj")
    got = {(r.o_cell, r.d_cell): r.n_trips for r in out}
    sup = got.pop((-1, -1))
    assert sup == 1
    assert list(got.values()) == [3]
    assert sum(got.values()) + sup == 4
