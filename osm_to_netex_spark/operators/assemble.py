"""J2 — ordered polygon reassembly: way.nd_refs → packed pos_list.

Reference semantics (OsmToNetexMapper.java:251-267): for each way, look up
every nd ref in the node map **in nd order** and emit a flat
[lat, lon, lat, lon, …] list; a missing ref is an error (NPE ⇒ inner-join-
with-error), duplicate node ids upstream are an error (Collectors.toMap,
OsmToNetexTransformer.java:98-99).

Spark plan: posexplode(nd_refs) → equi-join to nodes → collect_list of
(pos, lat, lon) structs → array_sort by pos → flatten.  collect_list order is
NOT deterministic under shuffle, so the position is carried through the join
and restored with array_sort — the ordering guarantee lives in the data, not
the execution (SURVEY §4 caveat a).  ``assemble_poslist`` is the two steps
``join_refs`` (the ref → node join) and ``pack_poslist`` (the per-way
regroup); a caller that checks the joined refs on the pass that packs them
(plans/netex.py) composes the steps itself.

Scale: the join key is node_id.  For planet-scale inputs both sides are huge
→ sort-merge join with AQE; when the node set fits the broadcast threshold,
pass broadcast_nodes=True to skip the shuffle entirely (the reference's
"whole node map in heap" case, distributed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .checks import Check
from .extract import duplicate_node_ids


def _unresolved():
    return F.col("node_id").isNull()


def unresolved_refs() -> Check:
    """Offenders: nd refs that resolve to no node (null node_id on the
    left-joined refs of ``join_refs``)."""
    return Check(
        "unresolved nd refs (reference NPEs here, OsmToNetexMapper.java:255): {}",
        10,
        ((_unresolved(), ("way_id", "ref")),),
    )


def check_unique_nodes(nodes: DataFrame) -> None:
    """Fail on any duplicated node id among ALL nodes, referenced or not, as
    the reference's node map does (Collectors.toMap,
    OsmToNetexTransformer.java:98).  One aggregation: a distinct-style
    aggregate cannot ride a pass as an observed metric."""
    dupes = duplicate_node_ids(nodes).limit(10).collect()
    if dupes:
        raise ValueError(
            f"duplicate node ids (reference throws, OsmToNetexTransformer.java:98): {dupes}"
        )


def join_refs(
    ways: DataFrame,
    nodes: DataFrame,
    broadcast_nodes: bool = False,
    broadcast_ways: bool = False,
) -> DataFrame:
    """Every nd ref with its node: (way_id, tags, pos, ref, node_id, lat,
    lon).  A left join, so an unresolved ref keeps its row with a null
    node_id — except under broadcast_ways, where the join is inner and an
    unresolved ref is dropped."""
    node_side = nodes.select("node_id", "lat", "lon")
    if broadcast_nodes:
        node_side = F.broadcast(node_side)
    exploded = ways.select(
        "way_id", "tags", F.posexplode("nd_refs").alias("pos", "ref")
    )
    if broadcast_ways:
        # when ways are the small side (few zones, huge node table) broadcast
        # the exploded refs and stream the node table map-side — no driver
        # collect of the big side.  An outer join cannot broadcast its
        # preserved side, hence INNER.
        return node_side.join(
            F.broadcast(exploded), exploded.ref == node_side.node_id, "inner"
        )
    return exploded.join(node_side, exploded.ref == node_side.node_id, "left")


def pack_poslist(joined: DataFrame) -> DataFrame:
    """``join_refs`` output → (way_id, tags, pos_list array<double>), the
    resolved refs of each way in nd order; unresolved refs are dropped."""
    return (
        joined.where(~_unresolved())
        .groupBy("way_id")
        .agg(
            F.first("tags").alias("tags"),
            F.array_sort(
                F.collect_list(F.struct("pos", "lat", "lon"))
            ).alias("pts"),  # sort by pos (first struct field) → nd order restored
        )
        .select(
            "way_id",
            "tags",
            F.expr("flatten(transform(pts, p -> array(p.lat, p.lon)))").alias("pos_list"),
        )
    )


def assemble_poslist(
    ways: DataFrame,
    nodes: DataFrame,
    broadcast_nodes: bool = False,
    strict: bool = True,
    broadcast_ways: bool = False,
) -> DataFrame:
    """ways(way_id, nd_refs, tags…) × nodes(node_id, lat, lon)
    → (way_id, tags, pos_list array<double>).

    strict=True reproduces the reference's error semantics: any nd ref that
    resolves to no node fails the job (listing offenders), as does any
    duplicated node id among all the nodes (``check_unique_nodes``).
    strict=False drops unresolved vertices instead.
    """
    joined = join_refs(ways, nodes, broadcast_nodes, broadcast_ways)
    if strict:
        # the inner broadcast_ways join has no unresolved rows to report
        refs = join_refs(ways, nodes, broadcast_nodes) if broadcast_ways else joined
        unresolved_refs().enforce(refs)
        check_unique_nodes(nodes)
    return pack_poslist(joined)
