"""Flow rose: known-direction legs classify to the right octants, diagonal
and degenerate legs behave deterministically."""

from osm_to_netex_spark.functions.portable import SPARK
from osm_to_netex_spark.operators import trajectory


def _mk(spark, fixes):
    df = spark.createDataFrame(fixes, "traj_id: long, step: long, lat: double, lon: double")
    df.createOrReplaceTempView("rose_traj")
    return df


def _rose(spark):
    return {
        (r["cell"], r["octant"]): (r["n_legs"], r["total_mm"])
        for r in spark.sql(
            trajectory.flow_rose_sql(SPARK, res=3, traj_table="rose_traj")
        ).collect()
    }


def test_cardinal_and_diagonal_octants(spark):
    _mk(spark, [
        (1, 0, 10.0, 10.0), (1, 1, 10.0, 11.0),   # due E  -> 0
        (2, 0, 10.0, 10.0), (2, 1, 11.0, 11.0),   # NE    -> 1
        (3, 0, 10.0, 10.0), (3, 1, 11.0, 10.0),   # due N -> 2
        (4, 0, 10.0, 10.0), (4, 1, 9.0, 9.0),     # SW    -> 5
    ])
    got = _rose(spark)
    octants = sorted(k[1] for k in got)
    assert octants == [0, 1, 2, 5]
    for (cell, _o), (n, mm) in got.items():
        assert n == 1 and mm > 0


def test_zero_length_leg_dropped_and_counts(spark):
    _mk(spark, [
        (1, 0, 10.0, 10.0), (1, 1, 10.0, 10.0),   # stationary -> dropped
        (1, 2, 10.0, 11.0),                        # E leg
        (2, 0, 10.0, 10.0), (2, 1, 10.0, 11.5),   # E leg, same cell
    ])
    got = _rose(spark)
    assert len(got) == 1
    (cell, octant), (n, _mm) = next(iter(got.items()))
    assert octant == 0 and n == 2


def test_near_boundary_classifies_like_python(spark):
    """A leg at exactly 45° lands in the diagonal sector (ady > t·adx and
    adx > t·ady both hold) — pinned against the same rule in Python."""
    import math

    t = math.tan(math.radians(22.5))
    dlat, dlon = 1.0, 1.0
    adx, ady = abs(dlon), abs(dlat)
    assert ady > t * adx and adx > t * ady  # python replay: diagonal
    _mk(spark, [(1, 0, 0.0, 0.0), (1, 1, dlat, dlon)])
    got = _rose(spark)
    assert [k[1] for k in got] == [1]  # NE
