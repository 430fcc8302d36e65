"""kNN linking: each Quay → its k nearest StopPlaces (north rule, SURVEY §2.2).

Two physical strategies, one semantic (mirrors pip.py's dual-strategy shape):

* **dimension-broadcast** (``stops_are_dimension=True``): the StopPlace side
  is a genuine dimension table (10⁵–10⁶ rows globally → tens of MB as
  (id, lat, lon)); broadcast it into the ring join and the brute-force
  remainder.  This is the NeTEx case.
* **cell-equi-join** (``stops_are_dimension=False``): both sides are
  corpus-sized — a broadcast would OOM at the 10^12 design point.  The ring
  join becomes a shuffled equi-join on cell (AQE splits skewed cells);
  unresolved quays escalate to coarser resolutions (each step quadruples the
  guarantee radius with the same 9-cell ring fan-out) instead of a broadcast
  brute-force pass; only the post-escalation stragglers — quays in regions
  with < k stops within the coarsest guarantee — fall through to an
  unbroadcast cross join, and that remainder is data-driven and vanishingly
  small by construction.

Exactness in both strategies: the ring guarantee ensures any true neighbour
within ``guarantee_m`` is a candidate; a quay whose k-th hit is farther than
the guarantee (or that found < k hits) is never emitted early — it re-runs at
the next level.  Resolution checks are windows over the ranking partition
(one shuffle, reused sort), never a groupBy + re-join.

Ranking ties break deterministically on (distance, stop id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions import geo
from ..functions.portable import SPARK, haversine_m


def _ranked(cand: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("quay_id").orderBy(F.col("dist_m").asc(), F.col("stop_id").asc())
    return cand.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)


def _cross_ranked(q: DataFrame, s: DataFrame, k: int) -> DataFrame:
    cand = q.crossJoin(s).withColumn(
        "dist_m", F.expr(haversine_m("qlat", "qlon", "slat", "slon", SPARK))
    )
    return _ranked(cand, k).select("quay_id", "stop_id", "dist_m", "rn")


def knn_brute_force(
    quays: DataFrame,
    stops: DataFrame,
    k: int = 3,
    quay_id: str = "quay_id",
    stop_id: str = "stop_id",
) -> DataFrame:
    """(quay_id, stop_id, dist_m, rn) — exact.  The stop side is a dimension
    table and is broadcast; corpus-sized stops go through knn_cell_pruned
    with stops_are_dimension=False."""
    q = quays.select(
        F.col(quay_id).alias("quay_id"),
        F.col("lat").alias("qlat"),
        F.col("lon").alias("qlon"),
    )
    s = stops.select(
        F.col(stop_id).alias("stop_id"),
        F.col("lat").alias("slat"),
        F.col("lon").alias("slon"),
    )
    return _cross_ranked(q, F.broadcast(s), k)


def _guarantee_m(scheme: str, res: int, ring: int) -> float:
    if scheme == "hex":
        cell_deg = geo.hex_size_deg(res) * (3**0.5) / 2.0
    else:
        cell_deg = 180.0 / (2**res) / 2.0
    return ring * cell_deg * geo.M_PER_DEG


def _ring_round(
    q: DataFrame,
    stops_pts: DataFrame,
    k: int,
    res: int,
    ring: int,
    scheme: str,
    broadcast_stops: bool,
) -> tuple[DataFrame, DataFrame]:
    """One candidate round at a resolution: returns (done, unresolved_quays).

    done rows are exact (k hits, all within the ring guarantee); unresolved
    quays (incl. zero-candidate ones) come back for the next level.
    """
    cell_fn = geo.hex_cell if scheme == "hex" else geo.quad_cell
    ring_fn = geo.hex_kring if scheme == "hex" else geo.quad_kring
    guarantee_m = _guarantee_m(scheme, res, ring)

    qc = q.withColumn("qcell", F.expr(cell_fn("qlat", "qlon", res, SPARK)))
    s = stops_pts.withColumn("scell", F.expr(cell_fn("slat", "slon", res, SPARK)))
    q_ring = qc.withColumn(
        "cand_cell", F.explode(F.expr(ring_fn("qcell", res, ring, SPARK)))
    )
    s_side = F.broadcast(s) if broadcast_stops else s
    cand = q_ring.join(s_side, q_ring.cand_cell == s.scell).withColumn(
        "dist_m", F.expr(haversine_m("qlat", "qlon", "slat", "slon", SPARK))
    )
    ranked = _ranked(cand.select("quay_id", "stop_id", "dist_m"), k)

    # resolution check as a second window over the SAME partitioning as the
    # ranking window (one shuffle, reused sort) — a groupBy + re-join (let
    # alone a broadcast of quay ids) would add a full extra shuffle or an
    # impossible broadcast at the 10^12 design point
    wq = Window.partitionBy("quay_id")
    flagged = ranked.withColumn(
        "__resolved",
        (F.count("*").over(wq) == k)
        & (F.max("dist_m").over(wq) <= F.lit(guarantee_m)),
    )
    done = flagged.where(F.col("__resolved")).select("quay_id", "stop_id", "dist_m", "rn")
    resolved_ids = flagged.where(F.col("__resolved")).select("quay_id")
    # unresolved = flagged-false PLUS zero-candidate quays → anti-join; both
    # sides big in the cell-join strategy → shuffled hash anti-join
    rest = q.join(resolved_ids, "quay_id", "left_anti")
    return done, rest


def knn_cell_pruned(
    quays: DataFrame,
    stops: DataFrame,
    k: int = 3,
    res: int = 7,
    ring: int = 1,
    quay_id: str = "quay_id",
    stop_id: str = "stop_id",
    scheme: str = "hex",
    stops_are_dimension: bool = True,
    escalation_levels: int = 2,
) -> DataFrame:
    """Exact kNN with k-ring candidate pruning.

    stops_are_dimension=True → broadcast ring join + broadcast brute-force
    remainder (dimension-table strategy).  False → shuffled cell equi-join;
    unresolved quays escalate ``escalation_levels`` times to res-2 per level
    (guarantee radius ×4 each step, ring fan-out constant), then any
    stragglers cross-join unbroadcast.  Exact vs the brute-force oracle by
    construction in both strategies.
    """
    q = quays.select(
        F.col(quay_id).alias("quay_id"),
        F.col("lat").alias("qlat"),
        F.col("lon").alias("qlon"),
    )
    s_pts = stops.select(
        F.col(stop_id).alias("stop_id"),
        F.col("lat").alias("slat"),
        F.col("lon").alias("slon"),
    )

    done, rest = _ring_round(q, s_pts, k, res, ring, scheme, stops_are_dimension)
    out = done
    if not stops_are_dimension:
        r = res
        for _ in range(escalation_levels):
            r = max(0, r - 2)
            more, rest = _ring_round(q=rest, stops_pts=s_pts, k=k, res=r, ring=ring,
                                     scheme=scheme, broadcast_stops=False)
            out = out.unionByName(more)
            if r == 0:
                break

    # post-escalation stragglers only: unbroadcast unless stops are a dimension
    fallback = _cross_ranked(rest, F.broadcast(s_pts) if stops_are_dimension else s_pts, k)
    return out.unionByName(fallback)


def knn_collect(knn: DataFrame) -> DataFrame:
    """(quay_id, stopplace_ids array ordered by distance) — knn_expected shape."""
    return (
        knn.groupBy("quay_id")
        .agg(F.array_sort(F.collect_list(F.struct("rn", "stop_id"))).alias("s"))
        .select("quay_id", F.expr("transform(s, x -> x.stop_id)").alias("stopplace_ids"))
    )
