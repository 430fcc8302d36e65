"""Staged execution of K-round queries, one declaration for both engines.

A staged query is an ordered list of ``(name, sql)`` stages plus one final
SQL text; each stage and the final text read earlier stages by name.  Spark
runs every stage as a lazy ``localCheckpoint`` registered as a temp view, so
round t+1 plans over a scan of round t instead of re-inlining the whole
chain (a round read by two branches of the next would otherwise double the
tree per round, 2^K in K rounds).  DuckDB runs the same stages as
``materialized`` CTEs, the oracle-side barrier.  Every stage is materialised
in both engines.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

Stage = tuple[str, "str | DataFrame"]


def run_stages(spark: SparkSession, stages: Sequence[Stage], final: str) -> DataFrame:
    """``spark.sql(final)`` over ``stages``, each run as
    ``spark.sql(sql).localCheckpoint(eager=False)`` under its name (a stage
    given as a DataFrame, an operator's input frame, is checkpointed as
    it is).  The stage views are dropped once ``final`` is planned: the
    returned frame holds the checkpoints themselves, not their names."""
    try:
        for name, body in stages:
            frame = body if isinstance(body, DataFrame) else spark.sql(body)
            frame.localCheckpoint(eager=False).createOrReplaceTempView(name)
        return spark.sql(final)
    finally:
        for name, _ in stages:
            spark.catalog.dropTempView(name)


def stages_sql(stages: Sequence[tuple[str, str]], final: str) -> str:
    """The DuckDB text of the same stages: ``with name as materialized
    (sql), … final``."""
    return "with " + ", ".join(f"{name} as materialized ({sql})" for name, sql in stages) + " " + final


def rounds(name: str, seed: str, step: Callable[[str], str], k: int) -> list[tuple[str, str]]:
    """Stages ``name0 = seed`` and ``name{t+1} = step("name{t}")`` up to
    ``name{k}``."""
    return [(f"{name}{t}", seed if t == 0 else step(f"{name}{t - 1}")) for t in range(k + 1)]
