import pytest

from osm_to_netex_spark.session import get_spark
from osm_to_netex_spark.sources import documents as docs_src


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="tests",
        cores=4,
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus(spark):
    df = docs_src.synthesize_corpus(
        spark, n_docs=260, n_zones=12, n_groups=3, n_points=90
    ).cache()
    df.count()
    return df


@pytest.fixture
def fresh_views(spark):
    """Registry tests replace the memoized sf temp views (`documents`,
    `events`, …) with tiny synthetic tables; reset register_geometry_views'
    memo around each test so every test, in any order, re-registers the real
    sf tables.  Modules opt in with ``pytest.mark.usefixtures``."""
    spark._graft_geo_views = None
    yield
    spark._graft_geo_views = None
