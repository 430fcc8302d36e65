"""Shared sf-corpus layer of the query suite: the testdata views, the
derived point/polygon geometry, the bbox constants and the helpers more
than one domain reads.

Each query derives its geometry deterministically FROM the shared testdata
tables (customer → points, supplier → polygons) using only cross-engine-exact
arithmetic from functions.portable/geo — md5 hashing, +,*,/, floor, round —
and **no trigonometry** in any oracle-gated value (polygons are
square-perimeter stars, distances are equirectangular-squared), so the DuckDB
oracle reproduces the engine's outputs bit-for-bit and the driver's
value-hash gate is a real verification, not an echo.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ...functions.portable import DUCK, SPARK, concat_str, flit, phash60
from ...functions.stages import run_stages, stages_sql


SF_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

BBOX = (59.4, 60.2, 9.6, 10.6)
LAT_LO, LAT_HI, LON_LO, LON_HI = BBOX
DLAT, DLON = LAT_HI - LAT_LO, LON_HI - LON_LO


def _pr(key_parts: list[str], d: str) -> str:
    return f"({phash60(concat_str(key_parts, d), d)} / {flit(float(2**60))})"


# ---------------------------------------------------------------------------
# derived geometry (shared SQL text per dialect)
# ---------------------------------------------------------------------------
def points_sql(d: str, table: str = "customer") -> str:
    """Deterministic points from customer keys (point_id, lat, lon)."""
    la = _pr(["'pt:lat:'", "c_custkey"], d)
    lo = _pr(["'pt:lon:'", "c_custkey"], d)
    return (
        f"select c_custkey as point_id, "
        f"{flit(LAT_LO)} + {la} * {flit(DLAT)} as lat, "
        f"{flit(LON_LO)} + {lo} * {flit(DLON)} as lon "
        f"from {table}"
    )


def polys_sql(d: str, table: str = "supplier") -> str:
    """Deterministic star polygons from supplier keys (zone_id, pos_list)."""
    pr_lat = _pr(["'z:lat:'", "s_suppkey"], d)
    clat = f"({flit(LAT_LO + 0.05)} + {pr_lat} * {flit(DLAT - 0.1)})"
    pr_lon = _pr(["'z:lon:'", "s_suppkey"], d)
    pr_rad = _pr(["'z:rad:'", "s_suppkey"], d)
    pr_nv = _pr(["'z:nv:'", "s_suppkey"], d)
    clon = f"({flit(LON_LO + 0.05)} + {pr_lon} * {flit(DLON - 0.1)})"
    # radius shrinks with √zone-count so aggregate zone area (and therefore
    # PIP hit density per point) stays constant across scale factors —
    # sqrt() is correctly-rounded IEEE, identical in both engines
    dens = f"sqrt(100.0e0 / (select count(*) from {table}))"
    rad = f"(({flit(0.03)} + {pr_rad} * {flit(0.12)}) * {dens})"
    nv = f"cast(8 + floor({pr_nv} * 9) as int)"

    m = "(j % nv)"
    t4 = f"(4.0e0 * {m} / nv)"
    side = f"cast(floor({t4}) as int)"
    u = f"({t4} - floor({t4}))"
    x = (
        f"(CASE WHEN {side} = 0 THEN -1.0e0 + 2.0e0 * {u} "
        f"WHEN {side} = 1 THEN 1.0e0 "
        f"WHEN {side} = 2 THEN 1.0e0 - 2.0e0 * {u} "
        f"ELSE -1.0e0 END)"
    )
    y = (
        f"(CASE WHEN {side} = 0 THEN -1.0e0 "
        f"WHEN {side} = 1 THEN -1.0e0 + 2.0e0 * {u} "
        f"WHEN {side} = 2 THEN 1.0e0 "
        f"ELSE 1.0e0 - 2.0e0 * {u} END)"
    )
    pr_vr = _pr(["'z:vr:'", "s_suppkey", "':'", m], d)
    rj = f"(0.6e0 + 0.8e0 * {pr_vr})"
    vlat = f"(clat + rad * {rj} * {y})"
    vlon = f"(clon + rad * {rj} * {x})"

    if d == SPARK:
        pos = f"flatten(transform(sequence(0, nv), j -> array({vlat}, {vlon})))"
    else:
        pos = f"flatten(list_transform(generate_series(0, cast(nv as bigint)), j -> [{vlat}, {vlon}]))"
    return (
        f"select s_suppkey as zone_id, {pos} as pos_list from ("
        f"select s_suppkey, {clat} as clat, {clon} as clon, {rad} as rad, {nv} as nv "
        f"from {table}) t"
    )


_MM_STEPS = 6  # fixes per geo_traj track


def traj_sql(d: str) -> str:
    """Deterministic GPS tracks: one 6-step trajectory per polygon, each
    fix = polygon vertex j jittered by a hash-derived offset (≈ ±250 m) —
    tracks genuinely follow a polyline, so stay/switch transitions are both
    exercised.  Identical expression text in both dialects."""
    eps = flit(0.0045)
    jla = _pr(["'mm:lat:'", "zone_id", "':'", "j"], d)
    jlo = _pr(["'mm:lon:'", "zone_id", "':'", "j"], d)
    if d == SPARK:
        # Spark [] subscripts are 0-based; element_at is the 1-based form
        la = f"element_at(pos_list, cast(2*j + 1 as int)) + ({jla} - 0.5e0) * {eps}"
        lo = f"element_at(pos_list, cast(2*j + 2 as int)) + ({jlo} - 0.5e0) * {eps}"
        return (
            f"select zone_id as traj_id, j as step, {la} as lat, {lo} as lon "
            f"from (select zone_id, pos_list, "
            f"explode(sequence(0, {_MM_STEPS - 1})) as j from geo_polys)"
        )
    la = f"pos_list[2*t.j + 1] + ({jla} - 0.5e0) * {eps}"
    lo = f"pos_list[2*t.j + 2] + ({jlo} - 0.5e0) * {eps}"
    return (
        f"select zone_id as traj_id, t.j as step, {la} as lat, {lo} as lon "
        f"from geo_polys, unnest(generate_series(0, {_MM_STEPS - 1})) t(j)"
    )


def event_fixes_sql(d: str, salt: str) -> str:
    """The sf events with a GPS fix each (every events column, then lat,
    lon): the events carry no coordinates, so each event gets one point
    placed uniformly in BBOX by the hash of ``salt`` and its event_id.
    Identical text in both dialects."""
    la = _pr([f"'{salt}:lat:'", "event_id"], d)
    lo = _pr([f"'{salt}:lon:'", "event_id"], d)
    return (
        f"select *, "
        f"{flit(LAT_LO)} + {la} * {flit(DLAT)} as lat, "
        f"{flit(LON_LO)} + {lo} * {flit(DLON)} as lon "
        f"from events"
    )


def register_geometry_views(spark: SparkSession, sf_dir: str) -> None:
    """Register the testdata tables + derived geometry (geo_points,
    geo_polys, geo_traj) as temp views.

    Memoized per (session, sf_dir): every query builder calls this, and the
    6 parquet schema reads cost ~0.8 s per call — pure setup, not engine
    work.  Temp views are session-scoped, so the memo rides the session
    object; a different sf_dir re-registers (views are replaced)."""
    if getattr(spark, "_graft_geo_views", None) == sf_dir:
        return
    for name in SF_TABLES:
        spark.read.parquet(f"{sf_dir}/{name}.parquet").createOrReplaceTempView(name)
    spark.sql(f"create or replace temp view geo_points as {points_sql(SPARK)}")
    spark.sql(f"create or replace temp view geo_polys as {polys_sql(SPARK)}")
    spark.sql(f"create or replace temp view geo_traj as {traj_sql(SPARK)}")
    spark._graft_geo_views = sf_dir


def sql_query(
    sql: Callable[[str], str],
) -> tuple[Callable[[SparkSession, str], DataFrame], Callable[[], str]]:
    """The ``(builder, oracle)`` registry entry of a query that is one SQL
    text in two dialects: the builder registers the sf views and runs
    ``sql(SPARK)``, the oracle returns ``sql(DUCK)``.  A query that runs in
    rounds is a :func:`staged_query`."""

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_geometry_views(spark, sf_dir)
        return spark.sql(sql(SPARK))

    def oracle() -> str:
        return sql(DUCK)

    return build, oracle


def staged_query(
    stages: Callable[[str], tuple[list[tuple[str, str]], str]],
) -> tuple[Callable[[SparkSession, str], DataFrame], Callable[[], str]]:
    """The ``(builder, oracle)`` registry entry of a query declared as
    ``stages(d) -> (stages, final)`` (functions.stages): the builder
    registers the sf views and runs the stages with ``run_stages``, the
    oracle is their ``stages_sql`` text."""

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_geometry_views(spark, sf_dir)
        return run_stages(spark, *stages(SPARK))

    def oracle() -> str:
        return stages_sql(*stages(DUCK))

    return build, oracle


_WITH = re.compile(r"\s*with( recursive)?(?=\s)")


def with_fixtures(sql: str, d: str) -> str:
    """``sql``, a query over the derived geometry (geo_points, geo_polys,
    geo_traj), in dialect ``d``.

    On Spark the fixtures are views (register_geometry_views), so ``sql``
    runs as written, with only its own ``with`` clause.  On DuckDB the
    fixtures are CTEs ahead of the query's own: ``with [recursive]
    geo_points as (…), geo_polys as (…)[, geo_traj as (…)],`` followed by
    the rest of ``sql``'s ``with`` clause, or by ``sql`` itself when it has
    none.  geo_traj is emitted only when ``sql`` reads it."""
    if d == SPARK:
        return sql
    ctes = f"geo_points as ({points_sql(DUCK)}), geo_polys as ({polys_sql(DUCK)})"
    if "geo_traj" in sql:
        ctes += f", geo_traj as ({traj_sql(DUCK)})"
    m = _WITH.match(sql)
    if m is None:
        return f"with {ctes}" + ("" if sql[:1].isspace() else " ") + sql
    return f"{m.group(0)} {ctes},{sql[m.end():]}"


# equirectangular squared distance in deg² — trig-free, exact cross-engine.
COSLAT0 = 0.5225  # fixed constant ≈ cos(58.5°)... kept literal & identical on both sides


_M_PER_DEG = 111194.92664455873
