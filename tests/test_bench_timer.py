"""bench.time_query materialises every output column: a count()-based timer
lets Catalyst prune the projections it does not need, so a column that
fails (or costs) would go unexecuted and untimed."""

import pytest

import bench


def test_time_query_computes_every_column(spark):
    def builder(spark, sf_dir):
        return spark.range(3).selectExpr("id", "raise_error('boom') as x")

    assert bench.time_query(spark, lambda s, _: s.range(3).selectExpr("id * 2 as y"), "") >= 0
    assert builder(spark, "").count() == 3  # count() never evaluates x
    with pytest.raises(Exception, match="boom"):
        bench.time_query(spark, builder, "")
