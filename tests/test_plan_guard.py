"""Engine-wide physical-plan invariants.

Every oracle-gated query's executed plan must stay JVM-side (no row-at-a-time
or Arrow Python eval in the hot path — the media pipeline is the one sanctioned
mapInPandas surface and is rows-only, not in QUERIES' oracle set) and must
never fall back to an unbroadcast CartesianProduct (a broadcast-nested-loop
over a 1-row/dimension side is fine; a shuffled cartesian is a scale bug).

This is the regression guard for the SCALE.md posture: a future edit that
slips a Python UDF or a cross join into a query fails here, not in a 100 TB
run.
"""

import pytest

from osm_to_netex_spark.plans import queries as Q
from tests.support import SF


# Largest legitimate plan measured ~1.1 MB (the convert pipeline's tag
# mapping); the CollapseProject/CTE-inlining blowups this guards against
# (dtw chained projections: 3^(2n) nodes; bpe WITH-chain: 2^k re-inlined
# subtrees) cross this by orders of magnitude or hit Spark's own
# "Truncated the string representation" warning.
PLAN_SIZE_LIMIT = 4_000_000


@pytest.mark.parametrize("name", sorted(Q.QUERIES))
def test_plan_has_no_python_and_no_cartesian(spark, name):
    builder, _oracle = Q.QUERIES[name]
    df = builder(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
    assert "ArrowEvalPython" not in plan, f"{name}: Python eval in a SQL query"
    assert "CartesianProduct" not in plan, f"{name}: unbroadcast cartesian join"
    assert len(plan) < PLAN_SIZE_LIMIT, (
        f"{name}: physical plan is {len(plan)} chars — a CollapseProject / "
        f"CTE-inlining expression blowup (see dtw_expr / bpe_encode notes)"
    )
