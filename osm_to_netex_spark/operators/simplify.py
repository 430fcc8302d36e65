"""Douglas-Peucker polyline simplification, fixed recursion depth K.

The classic DP recursion ("keep the farthest vertex if it deviates more than
eps, recurse on both halves") is depth-bounded here to K rounds — a
well-defined operator in its own right (depth-limited DP), which makes the
whole computation a fixed-length chain of relational steps that a DuckDB
oracle replays exactly:

* one ROUND = explode every open interval's interior vertices, compute each
  vertex's squared perpendicular deviation from the interval's chord, take
  the per-interval argmax, split intervals whose max exceeds eps;
* deviation compares ``cross²/len2`` (planar degrees) with ``eps²`` —
  products/quotients of doubles, correctly-rounded IEEE, bit-identical in
  both engines, so argmax + threshold decisions are deterministic
  (tiebreak: smallest vertex index via max(struct(metric, -idx)));
* a degenerate zero-length chord falls back to point distance from the
  chord start;
* per-round cost: interior vertices of open intervals only — total fan-out
  ≤ Σ|ring| per round, shrinking as intervals resolve; rings are ≤ 2000
  vertices (XSD bound), K is a small constant, and every step is
  map-side-combinable groupBy — no driver state beyond the loop counter.

The reference carries full rings everywhere (OsmToNetexMapper.java:251-267);
simplification is engine-side surface for rendering/index-building at coarse
zoom levels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.portable import DUCK, SPARK, flit


def _elem(pl: str, i: str, d: str) -> str:
    if d == SPARK:
        return f"element_at({pl}, cast({i} as int))"
    return f"{pl}[cast({i} as bigint)]"


def _metric(pl: str, d: str) -> str:
    """Squared deviation of vertex v from chord (s, e), planar degrees.

    Uses 1-based vertex indices s/e/v over the packed [lat, lon, ...] list:
    lat(i) = pl[2i-1], lon(i) = pl[2i]."""
    ys, xs = _elem(pl, "2*s - 1", d), _elem(pl, "2*s", d)
    ye, xe = _elem(pl, "2*e - 1", d), _elem(pl, "2*e", d)
    yv, xv = _elem(pl, "2*v - 1", d), _elem(pl, "2*v", d)
    dx, dy = f"(({xe}) - ({xs}))", f"(({ye}) - ({ys}))"
    px, py = f"(({xv}) - ({xs}))", f"(({yv}) - ({ys}))"
    cross = f"({dx} * {py} - {dy} * {px})"
    len2 = f"({dx} * {dx} + {dy} * {dy})"
    pt2 = f"({px} * {px} + {py} * {py})"
    return f"(case when {len2} = 0.0e0 then {pt2} else ({cross} * {cross}) / {len2} end)"


def simplify_dp(
    lines: DataFrame,
    eps_deg: float,
    k_rounds: int = 4,
    line_id: str = "zone_id",
    pos_list: str = "pos_list",
) -> DataFrame:
    """(line_id, vertex_idx) of the vertices KEPT by depth-``k_rounds`` DP at
    tolerance ``eps_deg`` — endpoints always kept; join back to the packed
    list for coordinates."""
    from pyspark.sql import functions as F

    eps2 = float(eps_deg) * float(eps_deg)
    base = lines.selectExpr(
        f"{line_id} as lid",
        f"{pos_list} as pl",
        f"size({pos_list}) div 2 as npts",
    )
    kept = base.selectExpr("lid", "explode(array(1, npts)) as v").distinct()
    intervals = base.selectExpr("lid", "pl", "1 as s", "cast(npts as int) as e").where(
        "e > s + 1"
    )
    for _ in range(k_rounds):
        cand = intervals.selectExpr(
            "lid", "pl", "s", "e", "explode(sequence(s + 1, e - 1)) as v"
        ).selectExpr("lid", "pl", "s", "e", "v", f"{_metric('pl', SPARK)} as m")
        best = (
            cand.groupBy("lid", "pl", "s", "e")
            .agg(F.max(F.struct(F.col("m"), (-F.col("v")).alias("nv"))).alias("b"))
            .selectExpr("lid", "pl", "s", "e", "b.m as m", "cast(-b.nv as int) as v")
            .where(f"m > {flit(eps2)}")
        )
        kept = kept.unionByName(best.selectExpr("lid", "v")).distinct()
        intervals = best.selectExpr(
            "lid", "pl", "s", "e", "v"
        ).selectExpr(
            "lid", "pl", "explode(array(struct(s as s, v as e), struct(v as s, e as e))) as iv"
        ).selectExpr("lid", "pl", "iv.s as s", "iv.e as e").where("e > s + 1")
    return kept.selectExpr(f"lid as {line_id}", "v as vertex_idx")


def simplify_dp_oracle_sql(
    lines_cte: str,
    eps_deg: float,
    k_rounds: int = 4,
    line_id: str = "zone_id",
) -> str:
    """DuckDB replay: the same ``k_rounds`` unrolled as chained CTEs over a
    CTE named ``lines_cte`` with (line_id, pos_list) columns."""
    eps2 = float(eps_deg) * float(eps_deg)
    m = _metric("pl", DUCK)
    ctes = [
        f"base as (select {line_id} as lid, pos_list as pl, "
        f"cast(len(pos_list) // 2 as int) as npts from {lines_cte})",
        "kept0 as (select lid, unnest([1, npts]) as v from base group by lid, npts)",
        "iv0 as (select lid, pl, 1 as s, npts as e from base where npts > 2)",
    ]
    for t in range(k_rounds):
        ctes.append(
            f"cand{t} as (select lid, pl, s, e, s + ti.i as v "
            f"from iv{t}, unnest(generate_series(1, cast(e - s - 1 as bigint))) ti(i))"
        )
        ctes.append(
            f"best{t} as (select lid, pl, s, e, "
            f"cast(-(max(struct_pack(m := {m}, nv := -v)).nv) as int) as v, "
            f"max(struct_pack(m := {m}, nv := -v)).m as m "
            f"from cand{t} group by lid, pl, s, e)"
        )
        ctes.append(f"split{t} as (select * from best{t} where m > {flit(eps2)})")
        ctes.append(
            f"kept{t + 1} as (select lid, v from kept{t} "
            f"union select lid, v from split{t})"
        )
        ctes.append(
            f"iv{t + 1} as (select lid, pl, u.s as s, u.e as e from ("
            f"select lid, pl, unnest([struct_pack(s := s, e := v), "
            f"struct_pack(s := v, e := e)]) as u from split{t}) q "
            f"where u.e > u.s + 1)"
        )
    return (
        "with " + ", ".join(ctes)
        + f" select lid as {line_id}, v as vertex_idx from kept{k_rounds}"
    )
