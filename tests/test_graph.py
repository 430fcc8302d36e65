"""PageRank: exact-integer fixed point — invariant under partitioning, and
the deliberately skewed hub set must actually concentrate rank."""

from pyspark.sql import functions as F

from osm_to_netex_spark.operators import graph
from tests.support import SF


def _ranks(spark, docs, n_iter=3):
    return {
        r["doc_id"]: r["pagerank"]
        for r in graph.pagerank(spark, docs, n_iter=n_iter).collect()
    }


def test_pagerank_partition_invariance(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    a = _ranks(spark, docs)
    b = _ranks(spark, docs.repartition(13, "doc_id"))
    c = _ranks(spark, docs.coalesce(1))
    assert a == b == c


def test_pagerank_hubs_concentrate_rank(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pr = graph.pagerank(spark, docs, n_iter=3)
    row = pr.select(
        F.avg(F.when(F.col("doc_id") < graph.HUB_MOD, F.col("pagerank"))).alias("hub"),
        F.avg(F.when(F.col("doc_id") >= graph.HUB_MOD, F.col("pagerank"))).alias(
            "rest"
        ),
        F.sum("pagerank").alias("total"),
        F.count("*").alias("n"),
    ).first()
    assert row["hub"] > 2 * row["rest"]
    # integer floors only ever lose mass: total <= SCALE, but stays close
    assert row["total"] <= graph.SCALE
    assert row["total"] >= graph.SCALE * 0.95


def test_triangles_known_graph(spark):
    """Hand-built graph: K4 on {0,1,2,3} (4 triangles, 3 per node) plus a
    pendant chain 3-4-5 (no triangles)."""
    from osm_to_netex_spark.operators import graph

    edges = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (3, 4), (4, 5),
             (1, 0), (2, 2)]  # reverse dup + self loop must be ignored
    df = spark.createDataFrame(edges, ["src", "dst"])
    df.createOrReplaceTempView("toy_edges")
    sql = graph.triangles_sql("spark").replace(
        f"with raw as ({graph.edges_sql('spark')})", "with raw as (select * from toy_edges)"
    )
    got = {r.doc_id: r.n_triangles for r in spark.sql(sql).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}
