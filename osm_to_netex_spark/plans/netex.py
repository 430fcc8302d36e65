"""EP2/EP3 analogue — the full conversion pipeline, documents → zone tables.

Reference lifecycle (OsmToNetexTransformer.java:60-112): parse → node map →
branch by target entity → SiteFrame → marshal.  Engine lifecycle: documents
scan → extract → J2 assembly → D1 branch → zones (+ groups when FareZone and
relations exist, D2) → table sinks.  The SiteFrame/PublicationDelivery
envelope carries only nondeterministic metadata the reference's own golden
test ignores (OsmToNetexTransformerTest.java:21-23), so the engine represents
it as a driver-side metadata dict and renders XML only for fixture parity at
test scale.

Where the conversion materialises, and why: each strict check, catalog
commit and XML render is a Spark action, and on a lazy plan every action
re-executes the whole scan → ``from_json`` → J2 join → groupBy lineage (one
job run read its corpus ~16 times).  ``convert_extracted`` therefore
checkpoints each intermediate once, in executor storage, before anything
reads it: the extracted nodes, ways and relations; the assembled ways; the
mapped zones; the groups.  The strict checks (unresolved refs, duplicate
node ids, required tags, enums, the relation probe, GroupOfTariffZoneId) and
every later commit and render then read those checkpoints, in the same order
and with the same errors as before.  ``ConversionResult.release`` drops the
checkpoints; a caller that keeps its session running calls it when done.
"""

from __future__ import annotations

import socket
import time
from dataclasses import dataclass, field
from xml.sax.saxutils import escape

from pyspark.sql import DataFrame

from ..operators import assemble, extract, zones


@dataclass
class ConversionResult:
    zones: DataFrame
    groups: DataFrame | None
    # W1 envelope metadata (nondeterministic fields, excluded from parity)
    envelope: dict = field(default_factory=dict)
    # the materialised nodes, for callers that index them (the job's tile
    # index)
    nodes: DataFrame | None = None
    # checkpointed frames this result keeps in executor storage
    held: list[DataFrame] = field(default_factory=list)

    def release(self) -> None:
        """Drop every checkpoint this result holds; its frames are unusable
        afterwards."""
        _release(self.held)


def _materialise(df: DataFrame, held: list[DataFrame]) -> DataFrame:
    """Compute df once into executor storage, cutting its lineage, so later
    actions read the stored rows instead of re-executing the plan."""
    ck = df.localCheckpoint(eager=True)
    held.append(ck)
    return ck


def _release(held: list[DataFrame]) -> None:
    # a checkpointed frame's plan is the LogicalRDD over the stored RDD
    for df in held:
        df._jdf.queryExecution().logical().rdd().unpersist(True)
    held.clear()


def convert_documents(
    documents: DataFrame,
    target_entity: str,
    generated_from: str = "documents",
    participant_ref: str = "osm_to_netex_spark",
    broadcast_nodes: bool = True,
    strict: bool = True,
) -> ConversionResult:
    """documents → ZONES (+ GROUPS for FareZone with relations present)."""
    return convert_extracted(
        extract.extract_nodes(documents),
        extract.extract_ways(documents),
        extract.extract_relations(documents),
        target_entity,
        generated_from=generated_from,
        participant_ref=participant_ref,
        broadcast_nodes=broadcast_nodes,
        strict=strict,
    )


def convert_extracted(
    nodes: DataFrame,
    ways: DataFrame,
    relations: DataFrame,
    target_entity: str,
    generated_from: str = "documents",
    participant_ref: str = "osm_to_netex_spark",
    broadcast_nodes: bool = True,
    strict: bool = True,
) -> ConversionResult:
    """(nodes, ways, relations) → ZONES (+ GROUPS), each intermediate
    computed once (module docstring).  The inputs come from documents
    (``convert_documents``) or from OSM XML (``sources.osm_xml.read_osm``).

    D2 branch (OsmToNetexTransformer.java:133-150): groups are emitted only on
    the FareZone path and only when relations exist (checked with a limit(1)
    probe, not a full count), so relations are materialised only for
    FareZone.  On any error the checkpoints taken so far are released.
    """
    held: list[DataFrame] = []
    try:
        nodes = _materialise(nodes, held)
        ways = _materialise(ways, held)
        is_fare = target_entity == "FareZone"
        if is_fare:
            relations = _materialise(relations, held)

        assembled = _materialise(
            assemble.assemble_poslist(ways, nodes, broadcast_nodes=broadcast_nodes, strict=strict),
            held,
        )
        zdf = _materialise(zones.map_zones(assembled, target_entity, strict=strict), held)

        groups = None
        if is_fare and relations.limit(1).count() > 0:
            groups = _materialise(
                zones.map_groups(relations, zdf.select("way_id", "zone_id")), held
            )
    except BaseException:
        _release(held)
        raise

    envelope = {
        "publication_timestamp": time.strftime("%Y-%m-%dT%H:%M:%S"),
        "description": f"Generated from {generated_from} on {socket.gethostname()}",
        "participant_ref": participant_ref,
        "site_frame_id": f"OSM:SiteFrame:{int(time.time() * 1000)}",
        "version": zones.DEFAULT_VERSION,
    }
    return ConversionResult(
        zones=zdf.drop("way_id"), groups=groups, envelope=envelope, nodes=nodes, held=held
    )


def validate_zones_output(zones: DataFrame) -> DataFrame:
    """CHECK-style output validation — the Spark analogue of marshal-time
    NeTEx schema validation, which the reference always enables
    (NetexHelper.java:47-49,61-67).

    Every ZONES row must have a non-null zone_id and version, and a GML-valid
    exterior ring: even-length pos_list of ≥ 8 doubles (3 distinct vertices +
    closure) whose first (lat, lon) pair equals its last.  Returns
    (zone_id, violation) rows; empty ⇔ the output marshals cleanly.
    """
    from pyspark.sql import functions as F

    checks = F.expr(
        """filter(array(
             CASE WHEN zone_id IS NULL THEN 'null_zone_id' END,
             CASE WHEN version IS NULL THEN 'null_version' END,
             CASE WHEN pos_list IS NULL OR size(pos_list) < 8
                  THEN 'pos_list_too_short' END,
             CASE WHEN pos_list IS NOT NULL AND size(pos_list) % 2 != 0
                  THEN 'pos_list_odd_length' END,
             CASE WHEN pos_list IS NOT NULL AND size(pos_list) >= 8
                       AND size(pos_list) % 2 = 0
                       AND (pos_list[0] != element_at(pos_list, -2)
                            OR pos_list[1] != element_at(pos_list, -1))
                  THEN 'ring_not_closed' END
           ), x -> x IS NOT NULL)"""
    )
    return zones.select("zone_id", F.explode(checks).alias("violation"))


def check_zones_output(zones: DataFrame) -> None:
    """Fail the job when the output would not validate — reference parity:
    marshalNetex validates unconditionally and throws (NetexHelper.java:61-67)."""
    offenders = validate_zones_output(zones).limit(20).collect()
    if offenders:
        raise ValueError(f"NeTEx output validation failed: {offenders}")


def conversion_metrics(documents: DataFrame) -> DataFrame:
    """A1 — count/log aggregation (OsmToNetexTransformer.java:69-70,100):
    per-kind span counts + doc count in ONE pass (single partial-aggregated
    job, not three .count() actions)."""
    from pyspark.sql import functions as F

    return documents.select(
        F.explode_outer("spans").alias("span")
    ).agg(
        F.count(F.when(F.col("span.kind") == "osm_node", 1)).alias("n_nodes"),
        F.count(F.when(F.col("span.kind") == "osm_way", 1)).alias("n_ways"),
        F.count(F.when(F.col("span.kind") == "osm_relation", 1)).alias("n_relations"),
        F.count(F.when(F.col("span.kind") == "text", 1)).alias("n_text_spans"),
        F.count(F.when(F.col("span.kind") == "media", 1)).alias("n_media_spans"),
    )


def _text(v) -> str:
    return escape(str(v))


def _attr(v) -> str:
    return escape(str(v), {'"': "&quot;"})


def render_netex_xml(result: ConversionResult, max_rows: int | None = None) -> str:
    """Fixture-parity XML render (driver-side, test scale only).

    Mirrors the marshal layout (NetexHelper.java:61-78): PublicationDelivery →
    SiteFrame → tariffZones/topographicPlaces/fareZones (+ groupsOfTariffZones)
    with GML polygons whose posList is the flat lat-lon list in nd order.
    Doubles are rendered with Python repr (shortest round-trip), matching
    Java's Double.toString for fixture doubles (SURVEY §7 hard part b).

    Text and attribute values are XML-escaped, as JAXB marshals them.

    Every zone is rendered.  ``max_rows`` is a guard on the driver-side
    collect: more zones than that raise instead of being dropped.
    """
    if max_rows is None:
        rows = result.zones.collect()
    else:
        rows = result.zones.limit(max_rows + 1).collect()
        if len(rows) > max_rows:
            raise ValueError(
                f"more than max_rows={max_rows} zones; rendering them would drop zones"
            )
    kind = rows[0]["zone_kind"] if rows else "TariffZone"
    container = {
        "TariffZone": "tariffZones",
        "FareZone": "fareZones",
        "TopographicPlace": "topographicPlaces",
    }[kind]

    def fmt_d(x: float) -> str:
        r = repr(float(x))
        return r[:-2] if r.endswith(".0") else r

    parts = [
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>',
        '<PublicationDelivery xmlns="http://www.netex.org.uk/netex">',
        f'  <PublicationTimestamp>{_text(result.envelope["publication_timestamp"])}</PublicationTimestamp>',
        f'  <ParticipantRef>{_text(result.envelope["participant_ref"])}</ParticipantRef>',
        f'  <Description>{_text(result.envelope["description"])}</Description>',
        "  <dataObjects>",
        f'    <SiteFrame version="1" id="{_attr(result.envelope["site_frame_id"])}">',
        f"      <{container}>",
    ]
    for r in rows:
        parts.append(f'        <{kind} version="{_attr(r["version"])}" id="{_attr(r["zone_id"])}">')
        if r["name"] is not None:
            parts.append(f'          <Name lang="{_attr(r["name_lang"])}">{_text(r["name"])}</Name>')
        pos = " ".join(fmt_d(v) for v in r["pos_list"])
        parts += [
            "          <gml:Polygon xmlns:gml=\"http://www.opengis.net/gml/3.2\" "
            f'gml:id="{_attr(r["polygon_id"])}">',
            "            <gml:exterior><gml:LinearRing>",
            f'              <gml:posList>{pos}</gml:posList>',
            "            </gml:LinearRing></gml:exterior>",
            "          </gml:Polygon>",
            f"        </{kind}>",
        ]
    parts += [f"      </{container}>", "    </SiteFrame>", "  </dataObjects>", "</PublicationDelivery>"]
    return "\n".join(parts)
