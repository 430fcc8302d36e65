"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator from SURVEY.md §2 as a
(spark, sf_dir) → DataFrame callable; ``oracle_sql()`` holds the matching
DuckDB SQL generated from the SAME formula source
(osm_to_netex_spark.functions.portable / .geo / .text), so the driver's
value-hash comparison is a true cross-engine verification.
The documents→NeTEx conversion pipeline is oracle-gated end to end since
round 2: both engines read the committed fixture corpus
(tests/fixtures/convert_corpus.parquet) and the DuckDB oracle re-derives
extraction, ordered assembly, and tag mapping in SQL
(plans/convert_queries.py).  Only the Arrow-batched media decode and the
custom stateful-HLL stream remain rows-only (genuinely non-SQL); every
other streaming query is arrival-order-independent and value-gated.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from osm_to_netex_spark.plans import queries as Q  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: H3-style/quad tile-assign + cell-pruned PIP binding of the
    testdata-derived points to star polygons at sf0.001."""
    return Q.q_pip(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name, (builder, _oracle) in Q.QUERIES.items():
        out[name] = builder
    out.update(Q.ROWS_ONLY)
    return out


def oracle_sql() -> dict[str, str]:
    return {name: oracle() for name, (_b, oracle) in Q.QUERIES.items()}
