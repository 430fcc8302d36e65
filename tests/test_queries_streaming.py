"""Streaming-domain registry queries (plans/queries/streaming.py): the
Structured Streaming tile path equals its batch plan over the same corpus
(LANDING.md step 5)."""

import pytest
from pyspark.sql import functions as F

from osm_to_netex_spark.plans.queries import streaming as STREAMING
from tests.support import SF

pytestmark = pytest.mark.usefixtures("fresh_views")


def test_streaming_tiles_matches_batch(spark):
    out = STREAMING.q_streaming_tiles(spark, SF)
    rows = {r.quad_cell: r.n_docs for r in out.collect()}
    assert rows and sum(rows.values()) > 0
    # batch equivalent over the same deterministic corpus
    from osm_to_netex_spark.functions import geo
    from osm_to_netex_spark.functions.portable import SPARK
    from osm_to_netex_spark.operators import extract

    from osm_to_netex_spark.plans.convert_queries import FIXTURE_CORPUS

    # the query streams the committed fixture corpus since it became
    # oracle-gated; the batch side must read the same fixture
    corpus = spark.read.parquet(FIXTURE_CORPUS)
    nodes = extract.extract_nodes(corpus)
    batch = (
        nodes.select("doc_id", F.expr(geo.quad_cell("lat", "lon", 8, SPARK)).alias("quad_cell"))
        .groupBy("quad_cell")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
    )
    assert rows == {r.quad_cell: r.n_docs for r in batch.collect()}
